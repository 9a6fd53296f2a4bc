package graft.chsql

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import ChSql.{Cur, TNum, TP, TStr}

/** The DDL/DML/admin statements of the CH grammar, read from the tokens
  * of the one statement front end ([[ChSql.statement]] lexes each
  * statement once and hands its [[ChSql.Cur]] here) and planned onto the
  * operators that already implement the semantics:
  *
  *  - `CREATE TABLE name (cols) ENGINE = E[(v)] [ORDER BY ...] [PARTITION
  *    BY ...]` (createTableStmt, ClickHouseParser.py:4136-4183; schema
  *    5662-5806) → a managed Spark catalog table, column types through
  *    [[graft.model.ChTypes]], engine sorting key / version / partition
  *    key carried as table properties (`graft.order_by`, `graft.version`,
  *    partition key as real Spark partitioning).
  *  - `INSERT INTO t [(cols)] VALUES|SELECT|FORMAT` (insertStmt,
  *    ClickHouseParser.py:7607-7706, data clauses 7796-7856) → a
  *    distributed append (`insertInto`) — new parquet files next to the
  *    existing ones, exactly CH's new-part shape. Unlisted columns fill
  *    with their default.
  *  - `ALTER TABLE t DELETE|UPDATE ... WHERE` (alterStmt,
  *    ClickHouseParser.py:2242-2344) → [[graft.operators.Mutations]]
  *    transforms inside a rewrite-and-swap: write rewritten data as a new
  *    table, then swap names — CH rewrites parts in the background and
  *    commits a metadata swap, same two phases. Column ALTERs
  *    (ADD/DROP/RENAME/MODIFY/COMMENT COLUMN, 2178-2896) ride the same
  *    rewrite.
  *  - `OPTIMIZE TABLE t [FINAL] [DEDUPLICATE]` (optimizeStmt, 8274-8365)
  *    → part-merge compaction (coalesce to few files per partition);
  *    FINAL applies the ReplacingMergeTree collapse
  *    ([[graft.operators.ChOps.selectFinal]]) using the engine keys from
  *    CREATE TABLE.
  *  - `DROP`, `TRUNCATE`, `RENAME`, `EXCHANGE`, `USE`, `ATTACH`/`DETACH`,
  *    the `SHOW` family, `CHECK`, `EXISTS`, `KILL`, `SYSTEM`, `WATCH`,
  *    dictionaries and SQL functions (7149-7357, 8463-8690, 11994-14321)
  *    → Spark catalog operations and the session registries.
  *
  * Every statement is parsed to its end before it acts: a clause a
  * handler does not know is a `ChSql:` error, never silently dropped.
  *
  * Scale note: every data-touching verb here is a distributed job — the
  * driver never materializes rows. INSERT appends files; mutations are a
  * single read→row-local-transform→write pass (no shuffle unless the
  * table is partitioned, in which case the write re-uses the partition
  * columns); OPTIMIZE is the standard small-file compaction job.
  */
object ChDdl {

  /** Run `c` when its head keywords name a DDL/DML/admin statement;
    * None = not such a head (the caller parses a query). Each Some result
    * is a one-column status frame, or a result frame for SHOW/metadata
    * verbs. */
  def dispatch(spark: SparkSession, c: Cur)(
      resolve: String => DataFrame): Option[DataFrame] = {
    import spark.implicits._
    def status(msg: String): DataFrame = Seq(msg).toDF("status")
    val head = c.word()
    if (!Heads(head)) return None
    c.pos += 1
    Some(head match {
      case "CREATE" => create(spark, c, resolve, status)

      case "WATCH" =>
        // WATCH view [EVENTS] [LIMIT n] (watchStmt, 14249-14321); EVENTS
        // switches to the version-heartbeat stream; the LIMIT (number of
        // refresh generations to emit) is accepted and left to the
        // caller's sink, which owns the subscription lifetime
        val name = c.name("a view name")
        val events = c.eatKw("EVENTS")
        if (c.eatKw("LIMIT")) c.num("a LIMIT number")
        c.done()
        watchView(spark, name, resolve, events)

      case "INSERT" => insert(spark, c, resolve, status)

      case "DELETE" =>
        // lightweight DELETE statement (deleteStmt — CH's `DELETE FROM t
        // WHERE p` is the mask-based mutation; the text layer runs the
        // same rewrite the heavy mutation uses, which is the mask's
        // compacted end state)
        c.expectKw("FROM")
        val name = c.name("a table name")
        status(s"deleted from $name (${
          deleteRows(spark, c, name, resolve, "mutation needs a WHERE clause")})")

      case "UPDATE" =>
        // lightweight UPDATE statement (updateStmt, ClickHouseParser.py:
        // 8187-8265): UPDATE t SET a = e, ... [IN PARTITION p] WHERE pred
        // — the standalone twin of ALTER ... UPDATE, same partition-pruned
        // mutation
        val name = c.name("a table name")
        c.expectKw("SET")
        val (cols, scope) = updateRows(spark, c, name, resolve,
          "mutation needs a WHERE clause")
        status(s"updated $name (${cols.mkString(",")}; $scope)")

      case "ALTER" =>
        c.expectKw("TABLE")
        val name = c.name("a table name")
        alterTable(spark, c, name, resolve, status)

      case "DROP" => drop(spark, c, status)

      case "TRUNCATE" =>
        c.eatKw("TABLE")
        val name = c.name("a table name")
        c.done()
        memTables.get(name) match {
          case Some(mt) =>
            mt.rows.clear()
            refreshMemView(spark, name, mt)
          case None =>
            spark.sql(s"TRUNCATE TABLE $name")
            invalidateProjections(spark, name)
        }
        status(s"truncated $name")

      case "RENAME" =>
        if (c.eatKw("DATABASE")) {
          // refuse-or-implement, never silently no-op: the catalog cannot
          // atomically re-home managed table locations across databases
          val a = c.ident("a database name")
          c.expectKw("TO")
          val b = c.ident("a database name")
          c.done()
          c.fail(s"RENAME DATABASE is not supported — CREATE DATABASE $b " +
            s"and RENAME TABLE each table out of $a instead")
        }
        // RENAME TABLE a TO b [, c TO d ...] (renameStmt, 8463-8530)
        c.expectKw("TABLE")
        val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        do {
          val a = c.name("a table name")
          if (!c.eatKw("TO")) c.fail(s"RENAME expects 'a TO b' after '$a'")
          pairs += ((a, c.name("a table name")))
        } while (c.eatP(","))
        c.done()
        pairs.foreach { case (a, b) => renameTable(spark, a, b) }
        status(pairs.map { case (a, b) => s"renamed $a to $b" }.mkString("; "))

      case "EXCHANGE" =>
        // exchangeStmt: `EXCHANGE TABLES a AND b` — atomic name swap; both
        // must exist; the swap is three catalog renames — metadata-only,
        // no data jobs
        c.expectKw("TABLES")
        val a = c.name("a table name")
        c.expectKw("AND")
        val b = c.name("a table name")
        c.done()
        Seq(a, b).foreach(t => require(spark.catalog.tableExists(t),
          s"ChSql: EXCHANGE TABLES: $t does not exist"))
        val tmp = s"${a}__xchg_tmp"
        spark.sql(s"ALTER TABLE $a RENAME TO $tmp")
        spark.sql(s"ALTER TABLE $b RENAME TO $a")
        spark.sql(s"ALTER TABLE $tmp RENAME TO $b")
        // projection registrations are keyed by NAME; after the swap each
        // name's materialized copy describes the OTHER table's data —
        // drop the copies (registrations survive; re-MATERIALIZE rebuilds)
        Seq(a, b).foreach(invalidateProjections(spark, _))
        status(s"exchanged $a and $b")

      case "USE" =>
        val db = c.ident("a database name")
        c.done()
        spark.sql(s"USE $db")
        status(s"using $db")

      case "OPTIMIZE" =>
        c.expectKw("TABLE")
        val name = c.name("a table name")
        val part = if (c.eatKw("PARTITION")) Some(partition(c)) else None
        val fin = c.eatKw("FINAL")
        val dedup = c.eatKw("DEDUPLICATE")
        c.done()
        optimizeTable(spark, name, part, fin, dedup, status)

      case "SHOW" => show(spark, c, resolve)

      case "DETACH" | "ATTACH" =>
        // ATTACH/DETACH (attachStmt 3843-3879; the DETACH alternatives of
        // dropStmt 7149-7357): CH moves detached parts to a `detached/`
        // directory and forgets the table; ATTACH re-registers it
        val kind = (if (head == "DETACH") Seq("TABLE", "VIEW", "DICTIONARY")
          else Seq("TABLE", "DICTIONARY")).find(c.eatKw(_))
          .getOrElse(c.fail(s"unsupported $head ${c.slice(c.pos, c.pos + 1)}"))
        val ifClause = if (head == "DETACH") c.ifExists() else c.ifNotExists()
        val name = c.name(s"a ${kind.toLowerCase(java.util.Locale.ROOT)} name")
        c.done()
        if (head == "DETACH") detach(spark, kind, ifClause, name, status)
        else attach(spark, kind, ifClause, name, status)

      case "CHECK" =>
        // full-scan validation over the table's file location (the path
        // rides out of the resolver's scan relation, same as WATCH)
        c.expectKw("TABLE")
        val name = c.name("a table name")
        c.done()
        val paths = filePaths(spark, resolve(name))
        require(paths.nonEmpty,
          s"ChSql: CHECK TABLE $name: not a file-backed table")
        val (ok, n, err) = graft.operators.AdminOps.checkTable(spark, paths.head)
        Seq((name, ok, n, err.orNull)).toDF("table", "ok", "rows", "error")

      case "EXISTS" =>
        c.eatKw("TABLE")
        val name = c.name("a table name")
        c.done()
        val exists = spark.catalog.tableExists(name) ||
          (try { resolve(name); true } catch { case _: Exception => false })
        Seq(if (exists) 1 else 0).toDF("result")

      case "KILL" =>
        // killStmt (8274-8365): queries registered via AdminOps.withQueryId
        val query = c.eatKw("QUERY")
        if (!query) c.expectKw("MUTATION")
        c.cluster()
        c.expectKw("WHERE")
        if (query) {
          c.expectKw("QUERY_ID")
          c.expectP("=")
          val id = c.str("a query id string")
          c.done()
          status(graft.operators.AdminOps.killQuery(spark, id))
        } else {
          val (from, until) = c.rest()
          status(graft.operators.AdminOps.killMutation(c.slice(from, until)))
        }

      case "SYSTEM" =>
        // systemStmt (13902-14107): the command words, then an optional
        // quoted argument
        val (from, until0) = c.rest()
        val arg = c.toks(until0 - 1)._1 match {
          case TStr(a) if until0 - 1 > from => Some(a)
          case _ => None
        }
        val until = if (arg.isDefined) until0 - 1 else until0
        if (until <= from) c.fail("SYSTEM needs a command")
        status(graft.operators.AdminOps.system(spark, c.slice(from, until), arg))
    })
  }

  /** Statement heads [[dispatch]] owns. */
  private val Heads = Set("CREATE", "WATCH", "INSERT", "DELETE", "UPDATE",
    "ALTER", "DROP", "TRUNCATE", "RENAME", "EXCHANGE", "USE", "OPTIMIZE",
    "SHOW", "DETACH", "ATTACH", "CHECK", "EXISTS", "KILL", "SYSTEM")

  // ===================== CREATE =====================

  private def create(spark: SparkSession, c: Cur,
      resolve: String => DataFrame, status: String => DataFrame): DataFrame = {
    if (c.isKw("TABLE") || c.isKw("TEMPORARY", "TABLE"))
      createTable(spark, tableSpec(c), resolve, status)
    else if (c.isKw("MATERIALIZED", "VIEW") || c.isKw("LIVE", "VIEW")) {
      // CREATE MATERIALIZED VIEW name [TO target] [POPULATE] AS SELECT
      // (ClickHouseParser.py:4085-4133); LIVE VIEW rides the same registry
      // with complete-mode refresh semantics
      val live = c.word() == "LIVE"
      c.pos += 2
      c.ifNotExists()
      val name = c.name("a view name")
      val target = if (c.eatKw("TO")) Some(c.name("a table name")) else None
      val populate = c.eatKw("POPULATE")
      c.expectKw("AS")
      createMaterializedView(spark, live, name, target, populate, c.query(),
        resolve, status)
    } else if (c.eatKw("DATABASE")) {
      val ifNot = c.ifNotExists()
      val name = c.ident("a database name")
      if (c.eatKw("ENGINE")) { c.expectP("="); c.ident("an engine name") }
      c.done()
      if (ifNot && spark.catalog.databaseExists(name))
        status(s"database $name already exists")
      else {
        spark.sql(s"CREATE DATABASE ${if (ifNot) "IF NOT EXISTS " else ""}$name")
        status(s"database $name created")
      }
    } else if (c.eatKw("DICTIONARY")) createDictionary(spark, c, resolve, status)
    else if (c.isKw("FUNCTION") || c.isKw("OR", "REPLACE", "FUNCTION")) {
      // createFunctionStmt: SQL lambda UDFs (`CREATE FUNCTION f AS (a, b)
      // -> a + b`) — parse once, store the AST; ChSql.funcCall expands
      // call sites at translation time (zero runtime UDFs)
      val orReplace = c.eatKw("OR", "REPLACE")
      c.expectKw("FUNCTION")
      val ifNot = c.ifNotExists()
      val name = c.ident("a function name")
      c.cluster()
      c.expectKw("AS")
      val (from, until) = c.rest()
      val bodyText = c.slice(from, until)
      val lower = name.toLowerCase(java.util.Locale.ROOT)
      if (FunctionCatalog.names.contains(lower))
        c.fail(s"CREATE FUNCTION $name: the name collides with a system function")
      if (ChSql.sqlFuncs.contains(lower) && !orReplace) {
        if (ifNot) status(s"function $name already exists")
        else c.fail(s"function $name already exists " +
          "(use CREATE OR REPLACE FUNCTION)")
      } else {
        val (ps, body) = ChSql.parseFunctionBody(name, c.expr(from, until))
        ChSql.sqlFuncs.put(lower, (ps, body, bodyText))
        status(s"function $name created")
      }
    } else c.fail("unsupported CREATE statement: expected TABLE, VIEW, " +
      "MATERIALIZED VIEW, LIVE VIEW, DATABASE, DICTIONARY or FUNCTION")
  }

  /** A parsed `CREATE [TEMPORARY] TABLE`: the column list, engine and
    * engine clauses, and an `AS select` or `AS table` source. */
  private final case class TableSpec(temporary: Boolean, ifNot: Boolean,
      name: String, uuid: Option[String], cols: Seq[ColDef],
      engine: Option[String], engineArgs: Option[String],
      clauses: Map[String, String], settings: Seq[(String, String)],
      asSelect: Option[ChSql.SetOp], asTable: Option[String])

  /** Engine clauses of CREATE TABLE (engineClause, ClickHouseParser.py:
    * 5807-6112): each body runs to the next of these keywords. */
  private val TableClauses =
    Seq("ORDER BY", "PARTITION BY", "PRIMARY KEY", "SAMPLE BY", "TTL", "SETTINGS")

  /** CREATE TABLE read after its CREATE keyword. */
  private def tableSpec(c: Cur): TableSpec = {
    val temporary = c.eatKw("TEMPORARY")
    c.expectKw("TABLE")
    val ifNot = c.ifNotExists()
    val name = c.name("a table name")
    // CREATE TABLE name UUID 'xxx' (uuidClause): the explicit-UUID form
    // Atomic databases emit in SHOW CREATE / backups — recorded as a table
    // property and surfaced by SHOW CREATE; it has no storage meaning here
    // (Spark's catalog owns identity)
    val uuid = if (c.eatKw("UUID")) Some(c.str("a UUID string")) else None
    uuid.foreach(u => require(u.nonEmpty && u.length <= 64 &&
      u.forall(ch => ch == '-' || Character.digit(ch, 16) >= 0),
      s"ChSql: malformed UUID '$u'"))
    val cols =
      if (!c.isP("(")) Nil
      else {
        val (from, until) = c.group()
        c.items(from, until).map { case (a, b) => colDef(c, a, b) }
      }
    var engine = Option.empty[String]
    var engineArgs = Option.empty[String]
    val clauses = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var settings = Seq.empty[(String, String)]
    var asSelect = Option.empty[ChSql.SetOp]
    var asTable = Option.empty[String]
    while (!c.atEnd) {
      if (c.eatKw("ENGINE")) {
        c.eatP("=")
        engine = Some(c.ident("an engine name"))
        if (c.isP("(")) { val (a, b) = c.group(); engineArgs = Some(c.slice(a, b)) }
      } else if (c.eatKw("AS")) {
        if (c.isKw("SELECT") || c.isKw("WITH") || c.isP("(")) asSelect = Some(c.query())
        else asTable = Some(c.name("a table name"))
      } else TableClauses.find(k => c.eatKw(k.split(' ').toSeq: _*)) match {
        case Some(k) =>
          require(!clauses.contains(k), s"ChSql: CREATE TABLE $name: duplicate $k")
          val from = c.pos
          c.pos = c.upTo(TableClauses ++ Seq("ENGINE", "AS"): _*)
          require(c.pos > from, s"ChSql: CREATE TABLE $name: $k needs a body")
          // trailing SETTINGS k = v, ... (engine settingsClause region,
          // 5807-5962): recorded per key
          if (k == "SETTINGS") settings = c.pairs(from, c.pos, "table SETTING")
          clauses(k) = c.sliceUnparen(from, c.pos).trim
        case None => c.fail(s"CREATE TABLE $name: unexpected '${
          c.slice(c.pos, c.end)}'")
      }
    }
    TableSpec(temporary, ifNot, name, uuid, cols, engine, engineArgs,
      clauses.toMap - "SETTINGS", settings, asSelect, asTable)
  }

  /** Run a parsed CREATE TABLE: a column list (optionally filled from
    * `AS select`), a CTAS, or a structure clone `AS table`. */
  private def createTable(spark: SparkSession, s: TableSpec,
      resolve: String => DataFrame, status: String => DataFrame): DataFrame = {
    val name = s.name
    val engine = s.engine.getOrElse("MergeTree")
    // TEMPORARY tables are Memory-engine by default (createTableStmt
    // TEMPORARY, ClickHouseParser.py:4136-4183); ENGINE = Memory is the
    // RAM-resident table either way
    val isMem = s.temporary || engine.equalsIgnoreCase("Memory")
    def onlyClauses(form: String, allowed: String*): Unit = {
      val extra = s.clauses.keySet.toSeq.filterNot(allowed.contains) ++
        (if (s.settings.nonEmpty) Seq("SETTINGS") else Nil)
      require(extra.isEmpty, s"ChSql: CREATE TABLE $name $form does not take ${
        extra.mkString(", ")}")
    }
    (s.cols.nonEmpty, s.asSelect, s.asTable) match {
      case (true, sel, None) =>
        val preExisting = if (isMem) memTables.contains(name)
          else spark.catalog.tableExists(name)
        val created =
          if (isMem) createMemoryTable(spark, s.ifNot, name, s.cols,
            s.temporary, status)
          else createStoredTable(spark, s, engine, status)
        if (!(s.ifNot && preExisting)) {
          // record the declared UUID (catalog tables only — TEMPORARY /
          // Memory tables have no CH UUID identity) for SHOW CREATE
          s.uuid.filter(_ => !isMem).foreach(u =>
            spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
              s"('graft.uuid' = '$u')"))
          sel.foreach(q => appendInto(spark, name, Nil, ChSql.plan(spark, q)(resolve)))
        }
        created

      case (false, None, Some(src)) =>
        // `CREATE TABLE t2 AS t1 [ENGINE = e]` structure clone: re-read the
        // source's re-runnable SHOW CREATE text (round-trip pin guarantees
        // fidelity) and run it under the new name, engine swapped when
        // given
        onlyClauses("AS table")
        require(spark.catalog.tableExists(src) || memTables.contains(src),
          s"ChSql: CREATE TABLE $name AS $src: table $src does not exist")
        if (s.ifNot && spark.catalog.tableExists(name))
          status(s"table $name already exists")
        else {
          val source = new Cur(showCreate(spark, src, resolve))
          source.expectKw("CREATE")
          val from = tableSpec(source)
          createTable(spark, from.copy(temporary = false, ifNot = false,
            name = name, uuid = None,
            engine = s.engine.orElse(from.engine),
            engineArgs = if (s.engine.isDefined) s.engineArgs else from.engineArgs),
            resolve, status)
          status(s"table $name created (structure of $src)")
        }

      case (false, Some(sel), None) if isMem =>
        // TEMPORARY / Memory-engine CTAS: evaluate and hold in RAM
        onlyClauses("AS SELECT")
        if (s.ifNot && memTables.contains(name))
          status(s"table $name already exists")
        else {
          require(!memTables.contains(name), s"ChSql: table $name already exists")
          val df = ChSql.plan(spark, sel)(resolve)
          val mt = MemTable(org.apache.spark.sql.types.StructType(
              df.schema.fields.map(_.copy(nullable = true))),
            scala.collection.mutable.ArrayBuffer.empty, s.temporary,
            df.schema.fields.filter(_.nullable).map(_.name).toSet)
          memTables.put(name, mt)
          memAppend(spark, name, mt, Nil, df)
          status(s"table $name created from select (${
            if (s.temporary) "temporary, " else ""}Memory engine)")
        }

      case (false, Some(sel), None) =>
        // CTAS (createTableStmt subquery form, 4136-4183): no column list —
        // the schema comes from the SELECT
        onlyClauses("AS SELECT", "ORDER BY", "PARTITION BY")
        if (s.ifNot && spark.catalog.tableExists(name))
          status(s"table $name already exists")
        else {
          if (!spark.catalog.tableExists(name)) dropStaleLocation(spark, name)
          val df = ChSql.plan(spark, sel)(resolve)
          val args = s.engineArgs.map(_.trim)
          def argsFor(e: String) = args.filter(_ => engine.equalsIgnoreCase(e))
          val props = Seq(
            "graft.engine" -> engine,
            // declared order + Nullable set from the SELECT output schema:
            // rewrite mutations relax the physical schema to all-nullable,
            // so without these props a post-mutation short INSERT would
            // fill NULL into every column (state-dependent fill rule)
            "graft.columns" -> df.schema.fieldNames.mkString(","),
            "graft.nullcols" ->
              df.schema.fields.filter(_.nullable).map(_.name).mkString(",")) ++
            s.clauses.get("ORDER BY").map("graft.order_by" -> _) ++
            argsFor("ReplacingMergeTree").map("graft.version" -> _) ++
            argsFor("SummingMergeTree").map("graft.sum_cols" -> _) ++
            argsFor("CollapsingMergeTree").map("graft.sign" -> _) ++
            argsFor("VersionedCollapsingMergeTree").toSeq.flatMap { a =>
              val cs = a.split(",").map(_.trim).filter(_.nonEmpty)
              require(cs.length == 2, "ChSql: VersionedCollapsingMergeTree " +
                "needs (sign, version) arguments")
              Seq("graft.sign" -> cs(0), "graft.version" -> cs(1))
            }
          val partCols = s.clauses.get("PARTITION BY").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(df.columns.contains)
          val w = sizedWrite(df).write.mode(SaveMode.ErrorIfExists)
          (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
            .saveAsTable(name)
          spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
            props.map { case (k, v) => s"${sqlLit(k)}=${sqlLit(v)}" }
              .mkString(", ") + ")")
          status(s"table $name created from select")
        }

      case _ => throw new IllegalArgumentException(s"ChSql: CREATE TABLE " +
        s"$name needs one of: a column list, AS SELECT ..., AS table")
    }
  }

  /** `DROP DATABASE|TABLE|VIEW|DICTIONARY|FUNCTION [IF EXISTS] name`. */
  private def drop(spark: SparkSession, c: Cur,
      status: String => DataFrame): DataFrame = {
    val kindTok = c.ident("DATABASE, TABLE, VIEW, DICTIONARY or FUNCTION")
    val kind = kindTok.toUpperCase(java.util.Locale.ROOT)
    val ifExists = c.ifExists()
    val name = kind match {
      case "DATABASE" | "FUNCTION" => val n = c.ident(s"a name"); c.cluster(); n
      case "TABLE" | "VIEW" | "DICTIONARY" => c.name("a name")
      case _ => c.fail(s"unsupported DROP $kindTok")
    }
    c.done()
    kind match {
      case "DATABASE" =>
        if (!spark.catalog.databaseExists(name)) {
          if (!ifExists) c.fail(s"database $name does not exist")
          status(s"database $name does not exist")
        } else {
          spark.sql(s"DROP DATABASE $name CASCADE")
          status(s"dropped database $name")
        }
      case "FUNCTION" =>
        if (ChSql.sqlFuncs.remove(name.toLowerCase(java.util.Locale.ROOT)).isDefined)
          status(s"function $name dropped")
        else if (ifExists) status(s"function $name does not exist (IF EXISTS)")
        else c.fail(s"DROP FUNCTION $name: no such function")
      case "DICTIONARY" =>
        if (!graft.sources.Dictionaries.exists(name) && !ifExists)
          c.fail(s"DICTIONARY $name does not exist")
        graft.sources.Dictionaries.drop(name)
        status(s"dropped dictionary $name")
      case _ if memTables.contains(name) =>
        memTables.remove(name)
        spark.catalog.dropTempView(name)
        status(s"dropped $name")
      case _ if ChSql.paramViews.contains(name) =>
        ChSql.paramViews.remove(name)
        status(s"dropped parameterized view $name")
      case _ =>
        val inCatalog = spark.catalog.tableExists(name)
        if (!inCatalog && !mvSources.contains(name)) {
          if (!ifExists) c.fail(s"$kindTok $name does not exist")
          // IF EXISTS no-op must say so, not claim a drop happened
          status(s"$kindTok $name does not exist")
        } else {
          if (inCatalog) {
            // temp views (CREATE VIEW path) and catalog tables drop differently
            if (!spark.catalog.dropTempView(name) &&
              !spark.catalog.dropGlobalTempView(name))
              spark.sql(s"DROP TABLE $name")
          }
          // a plain DROP TABLE of a bloom SIDECAR (not via DROP INDEX)
          // must still evict its cached probe map — otherwise the cache
          // holds file-count-sized state for a table that no longer
          // exists (and a same-millisecond recreate could serve stale)
          if (name.contains("__bloom_") || name.contains("__tokbloom_") ||
              name.contains("__ngrambloom_"))
            graft.plans.BloomSkipIndex.invalidate(name)
          graft.streaming.StreamingOps.dropView(name)
          mvSources.remove(name)
          // a table's materialized projections die with it
          projMeta.keys.filter(_._1 == name).foreach { k =>
            projMeta.remove(k).foreach(_.projTable
              .filter(spark.catalog.tableExists)
              .foreach(t => spark.sql(s"DROP TABLE $t")))
          }
          status(s"dropped $name")
        }
    }
  }

  /** One `RENAME TABLE a TO b` step. Projections travel with the table
    * (CH keeps them inside the table definition): the registrations are
    * re-keyed and the materialized copies renamed — otherwise a later
    * CREATE TABLE under the OLD name would find the stale registration
    * and serve the renamed table's projection data to covered SELECTs. */
  private def renameTable(spark: SparkSession, a: String, b: String): Unit = {
    spark.sql(s"ALTER TABLE $a RENAME TO $b")
    projMeta.keys.filter(_._1 == a).toSeq.foreach { k =>
      projMeta.remove(k).foreach { meta =>
        val moved = meta.projTable.flatMap { pt =>
          val npt = s"${b}__proj_${k._2}"
          if (spark.catalog.tableExists(pt)) {
            spark.sql(s"ALTER TABLE $pt RENAME TO $npt")
            Some(npt)
          } else None
        }
        projMeta.put((b, k._2), meta.copy(table = b, projTable = moved,
          outCols = if (moved.isEmpty) Nil else meta.outCols))
      }
    }
  }

  /** `CREATE DICTIONARY name (schema) PRIMARY KEY k SOURCE(...)
    * [LAYOUT(...)] [RANGE(MIN lo MAX hi)] [LIFETIME(...)] [SETTINGS(...)]`
    * (dictionaryStmt). Point layouts (FLAT/HASHED/CACHE/DIRECT) are all
    * the same broadcast hash; RANGE_HASHED adds the interval dimension
    * (rangeClause, ClickHouseParser.py:4005-4048). LIFETIME and SETTINGS
    * are ignored: refresh is SYSTEM RELOAD DICTIONARY. */
  private def createDictionary(spark: SparkSession, c: Cur,
      resolve: String => DataFrame, status: String => DataFrame): DataFrame = {
    import graft.sources.Dictionaries
    val ifNot = c.ifNotExists()
    val name = c.name("a dictionary name")
    val (colsFrom, colsUntil) = c.group()
    c.expectKw("PRIMARY", "KEY")
    val key = c.ident("a key column")
    var source = Option.empty[(String, Map[String, String])]
    var layout = Option.empty[String]
    var range = Option.empty[(String, String)]
    while (!c.atEnd) {
      if (c.eatKw("SOURCE")) {
        // SOURCE(KIND(key 'value' ...)): FILE(path '...' [format '...'])
        // or CLICKHOUSE(TABLE '...') — the CH self-referential source
        c.expectP("(")
        val kind = c.ident("a dictionary source").toUpperCase(java.util.Locale.ROOT)
        val (a, b) = c.group()
        c.expectP(")")
        require((b - a) % 2 == 0, s"ChSql: SOURCE($kind(...)) takes key 'value' pairs")
        source = Some(kind -> (a until b by 2).map { i =>
          c.slice(i, i + 1).toUpperCase(java.util.Locale.ROOT) -> (c.toks(i + 1)._1 match {
            case TStr(v) => v
            case _ => c.slice(i + 1, i + 2)
          })
        }.toMap)
      } else if (c.eatKw("LAYOUT")) {
        c.expectP("(")
        layout = Some(c.ident("a layout name").toUpperCase(java.util.Locale.ROOT))
        if (c.isP("(")) c.group()
        c.expectP(")")
      } else if (c.eatKw("RANGE")) {
        c.expectP("(")
        c.expectKw("MIN")
        val lo = c.ident("a range column")
        c.expectKw("MAX")
        val hi = c.ident("a range column")
        c.expectP(")")
        range = Some((lo, hi))
      } else if (c.eatKw("LIFETIME") || c.eatKw("SETTINGS")) c.group()
      else c.fail(s"CREATE DICTIONARY $name: unexpected '${c.slice(c.pos, c.end)}'")
    }
    if (ifNot && Dictionaries.exists(name))
      return status(s"dictionary $name already exists")
    val schema = graft.model.ChTypes.toSparkSchema(c.slice(colsFrom, colsUntil))
    require(schema.fieldNames.contains(key),
      s"ChSql: PRIMARY KEY $key is not a dictionary column")
    // RANGE_HASHED is the one layout with different lookup semantics; the
    // clause pair must be consistent, and the range bound columns must
    // exist (they are structure, not attributes).
    layout match {
      case Some("RANGE_HASHED") => require(range.isDefined,
        "ChSql: LAYOUT(RANGE_HASHED()) needs RANGE(MIN lo MAX hi)")
      case _ => require(range.isEmpty,
        "ChSql: RANGE(MIN .. MAX ..) needs LAYOUT(RANGE_HASHED())")
    }
    range.foreach { case (lo, hi) =>
      Seq(lo, hi).foreach(col => require(schema.fieldNames.contains(col),
        s"ChSql: RANGE column $col is not a dictionary column"))
      require(lo != key && hi != key,
        "ChSql: RANGE columns cannot be the PRIMARY KEY")
    }
    val nonAttr = Set(key) ++ range.toSeq.flatMap(r => Seq(r._1, r._2))
    val attrs = schema.fieldNames.filterNot(nonAttr).map(col => col -> col).toMap
    source match {
      case Some(("FILE", kv)) if kv.contains("PATH") =>
        Dictionaries.createFromPath(name, kv("PATH"),
          kv.getOrElse("FORMAT", "parquet").toLowerCase(java.util.Locale.ROOT),
          key, attrs, range)
      case Some(("CLICKHOUSE", kv)) if kv.contains("TABLE") =>
        // resolve (not spark.table) so Memory/TEMPORARY engine tables and
        // qualified names work as dictionary sources
        Dictionaries.create(name, _ => resolve(kv("TABLE")), key, attrs, range)
      case _ => throw new IllegalArgumentException(
        "ChSql: CREATE DICTIONARY needs SOURCE(FILE(path '...')) " +
          "or SOURCE(CLICKHOUSE(TABLE '...'))")
    }
    // CH loads FLAT/HASHED dictionaries at create time; warming the
    // resolved frame here keeps later dictGet translation zero-job
    Dictionaries.loaded(spark, name)
    status(s"dictionary $name created")
  }

  // ===================== SHOW =====================

  /** The showStmt family (ClickHouseParser.py:11994-13901): metadata,
    * settings and access introspection. Single-user engine — the access
    * surfaces report the implicit all-powerful `default` user, the
    * cluster surfaces the one local "cluster" Spark local mode is. */
  private def show(spark: SparkSession, c: Cur,
      resolve: String => DataFrame): DataFrame = {
    import spark.implicits._
    def ended[T](v: => T): T = { c.done(); v }
    if (c.eatKw("CREATE")) {
      if (c.eatKw("DATABASE")) {
        val name = c.ident("a database name")
        c.done()
        require(spark.catalog.databaseExists(name),
          s"ChSql: database $name does not exist")
        Seq(s"CREATE DATABASE $name").toDF("statement")
      } else if (c.eatKw("DICTIONARY")) {
        val name = c.name("a dictionary name")
        c.done()
        val d = graft.sources.Dictionaries.get(name).getOrElse(
          c.fail(s"DICTIONARY $name does not exist"))
        val attrCols = d.attrs.keys.toSeq.sorted.filterNot(_ == d.keyCol)
        val rangeCols = d.range.toSeq.flatMap(r => Seq(r._1, r._2))
        val layout = d.range.map { case (lo, hi) =>
          s"LAYOUT(RANGE_HASHED()) RANGE(MIN $lo MAX $hi)"
        }.getOrElse("LAYOUT(HASHED)")
        Seq(s"CREATE DICTIONARY $name " +
          s"(${(d.keyCol +: (rangeCols ++ attrCols)).mkString(", ")}) " +
          s"PRIMARY KEY ${d.keyCol} $layout").toDF("statement")
      } else if (c.eatKw("FUNCTION")) {
        val name = c.ident("a function name")
        c.done()
        val (_, _, txt) = ChSql.sqlFuncs.getOrElse(
          name.toLowerCase(java.util.Locale.ROOT),
          c.fail(s"SHOW CREATE FUNCTION $name: no such function"))
        Seq(s"CREATE FUNCTION $name AS $txt").toDF("statement")
      } else Seq("USER" -> "USER", "ROLE" -> "ROLE", "ROW POLICY" -> "ROW POLICY",
          "POLICY" -> "ROW POLICY", "QUOTA" -> "QUOTA",
          "SETTINGS PROFILE" -> "SETTINGS PROFILE", "PROFILE" -> "SETTINGS PROFILE")
          .find { case (k, _) => c.eatKw(k.split(' ').toSeq: _*) } match {
        case Some((_, kind)) =>
          val name = c.ident("a name")
          c.done()
          Seq(showCreateAccess(kind, name)).toDF("statement")
        case None =>
          if (!c.eatKw("TABLE")) c.eatKw("VIEW")
          val name = c.name("a table name")
          c.done()
          Seq(showCreate(spark, name, resolve)).toDF("statement")
      }
    } else {
      c.eatKw("EXTENDED")
      c.eatKw("FULL")
      c.eatKw("TEMPORARY")
      if (c.eatKw("TABLES")) showTables(spark, c, Nil)
      else if (c.eatKw("DATABASES"))
        likeTail(c, spark.catalog.listDatabases().toDF.select(col("name")), "name")
      else if (c.eatKw("COLUMNS") || c.eatKw("FIELDS")) {
        if (!c.eatKw("FROM")) c.expectKw("IN")
        likeTail(c, showColumns(spark, c.name("a table name"), resolve), "field")
      } else if (Seq("INDEX", "INDEXES", "INDICES", "KEYS").exists(c.eatKw(_))) {
        if (!c.eatKw("FROM")) c.expectKw("IN")
        val name = c.name("a table name")
        ended(showIndex(spark, name))
      } else if (c.eatKw("GRANTS")) {
        // single-user model: the implicit `default` user owns everything
        val u = if (c.eatKw("FOR")) c.ident("a user name") else "default"
        c.eatKw("WITH", "IMPLICIT")
        c.eatKw("FINAL")
        c.done()
        require(u.equalsIgnoreCase("default"),
          s"ChSql: there is no user named $u (single-user engine: only 'default')")
        Seq(s"GRANT ALL ON *.* TO $u WITH GRANT OPTION").toDF("grants")
      } else if (c.eatKw("SETTINGS", "PROFILES") || c.eatKw("PROFILES"))
        ended(Seq("default").toDF("name"))
      else if (c.isKw("SETTINGS") || c.isKw("CHANGED", "SETTINGS")) {
        val changed = c.eatKw("CHANGED")
        c.expectKw("SETTINGS")
        val df = graft.plans.Settings.settingsRows(spark)
          .toDF("name", "value", "changed", "spark_key")
        likeTail(c, if (changed) df.filter(col("changed")) else df, "name")
      } else if (c.eatKw("SETTING")) {
        val name = c.ident("a setting name")
        c.done()
        val row = graft.plans.Settings.settingsRows(spark)
          .find(_._1 == name).getOrElse(c.fail(
            s"unknown setting $name (no Spark twin — see Settings.mapping)"))
        Seq((row._1, row._2)).toDF("name", "value")
      } else if (c.eatKw("FUNCTIONS"))
        likeTail(c, (FunctionCatalog.names
          .map(n => (n, FunctionCatalog.isAggregate(n))) ++
          ChSql.sqlFuncs.keys.toSeq.sorted.map(n => (n, false)))
          .toDF("name", "is_aggregate"), "name")
      else if (c.eatKw("CLUSTER")) {
        // Spark local mode is one "cluster" named local; a real deploy
        // would surface the executor topology here
        val name = c.str("a cluster name string")
        ended(Seq(("local", 1, 1, "localhost"))
          .toDF("cluster", "shard_num", "replica_num", "host_name")
          .filter(col("cluster") === name))
      } else if (c.eatKw("CLUSTERS"))
        likeTail(c, Seq("local").toDF("cluster"), "cluster")
      else if (c.eatKw("DICTIONARIES"))
        likeTail(c, graft.sources.Dictionaries.names.toDF("name"), "name")
      else if (Seq("ROLES", "CURRENT ROLES", "ENABLED ROLES", "FILESYSTEM CACHES")
          .exists(k => c.eatKw(k.split(' ').toSeq: _*)))
        ended(Seq.empty[String].toDF("name")) // no roles, no fs cache layer
      else if (c.eatKw("POLICIES") || c.eatKw("ROW", "POLICIES")) {
        if (c.eatKw("ON")) c.name("a table name")
        ended(Seq.empty[String].toDF("name")) // no row policies defined
      } else if (c.eatKw("QUOTA") || c.eatKw("CURRENT", "QUOTA"))
        ended(Seq(("default", "default")).toDF("quota_name", "quota_key"))
      else if (c.eatKw("QUOTAS") || c.eatKw("USERS"))
        ended(Seq("default").toDF("name"))
      else if (c.eatKw("PROCESSLIST"))
        // live queries registered via AdminOps.withQueryId
        ended(graft.operators.AdminOps.processList()
          .toDF("query_id", "query", "elapsed_sec"))
      else if (c.eatKw("ACCESS"))
        // the concatenated access-entity dump (showStmt ACCESS,
        // ClickHouseParser.py:12295-12312)
        ended(Seq("CREATE USER default",
          "CREATE SETTINGS PROFILE default",
          "CREATE QUOTA default",
          "GRANT ALL ON *.* TO default WITH GRANT OPTION").toDF("access"))
      else if (c.eatKw("PRIVILEGES"))
        // the privilege vocabulary this engine's statement layer exposes
        ended(Seq(
          ("SELECT", "TABLE"), ("INSERT", "TABLE"), ("ALTER", "TABLE"),
          ("CREATE TABLE", "TABLE"), ("CREATE VIEW", "VIEW"),
          ("CREATE DICTIONARY", "DICTIONARY"), ("DROP", "TABLE"),
          ("TRUNCATE", "TABLE"), ("OPTIMIZE", "TABLE"), ("SHOW", "GLOBAL"),
          ("KILL QUERY", "GLOBAL"), ("SYSTEM", "GLOBAL"),
          ("dictGet", "DICTIONARY")).toDF("privilege", "level"))
      else if (c.eatKw("ENGINES"))
        // system.table_engines shape, restricted to engines with mapped
        // semantics (MergeTree family props, view/stream registry,
        // dictionary registry, file sources)
        ended(Seq(
          ("MergeTree", true, true, false),
          ("ReplacingMergeTree", true, true, true),
          ("SummingMergeTree", true, true, true),
          ("CollapsingMergeTree", true, true, true),
          ("VersionedCollapsingMergeTree", true, true, true),
          ("AggregatingMergeTree", true, true, true),
          ("View", false, false, false),
          ("MaterializedView", false, false, false),
          ("LiveView", false, false, false),
          ("Dictionary", false, false, false),
          ("File", false, false, false))
          .toDF("name", "supports_sort_order", "supports_partition_by",
            "supports_final"))
      else if (c.eatKw("MERGES"))
        // merges/mutations run synchronously inside OPTIMIZE/ALTER here,
        // so the in-flight set is always empty — honest, not a stub
        ended(Seq.empty[(String, String, Double, Double, Boolean)]
          .toDF("database", "table", "elapsed", "progress", "is_mutation"))
      else c.fail(s"unsupported SHOW statement: SHOW ${c.slice(c.pos, c.end)}")
    }
  }

  /** `SHOW TABLES [FROM|IN db] [[NOT] LIKE|ILIKE 'p']` read after its head
    * keywords: the catalog's tables of `db` (default: the current one,
    * plus the `extra` names a caller lists itself — the [[graft.Sql]] CLI
    * adds its directory's parquet tables), filtered and sorted by name. */
  private[graft] def showTables(spark: SparkSession, c: Cur,
      extra: Seq[String]): DataFrame = {
    import spark.implicits._
    val db = if (c.eatKw("FROM") || c.eatKw("IN")) Some(c.ident("a database name"))
      else None
    db.foreach(d => require(spark.catalog.databaseExists(d),
      s"ChSql: database $d does not exist"))
    val listed = db.fold(spark.catalog.listTables())(spark.catalog.listTables)
      .collect().map(_.name).toSeq ++ (if (db.isEmpty) extra else Nil)
    likeTail(c, listed.distinct.toDF("name"), "name").orderBy("name")
  }

  // ===================== Memory engine / TEMPORARY tables ==============

  /** A Memory-engine table (`ENGINE = Memory`, and every `CREATE
    * TEMPORARY TABLE` — engineClause default, ClickHouseParser.py:
    * 4136-4183): RAM-resident rows, exactly CH's model where a Memory
    * table lives unpartitioned in the server's RAM. Reads go through a
    * temp view refreshed on every mutation, so the whole SELECT surface
    * (joins, DESCRIBE, SHOW, EXISTS) works unchanged. Bounded by
    * [[MemRowCap]] — a Memory table is small by contract; the honest
    * error beats silently spilling what CH would never spill. */
  private final case class MemTable(
      schema: org.apache.spark.sql.types.StructType,
      rows: scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row],
      temporary: Boolean,
      // columns DECLARED Nullable — the stored schema is relaxed to all-
      // nullable, so the omitted-INSERT fill rule needs the declaration
      declaredNull: Set[String] = Set.empty)
  private val memTables =
    scala.collection.concurrent.TrieMap.empty[String, MemTable]
  private val MemRowCap = 4 << 20 // ~4M rows

  private def refreshMemView(spark: SparkSession, name: String,
      mt: MemTable): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(mt.rows.toList.asJava, mt.schema)
      .createOrReplaceTempView(name)
  }

  private def createMemoryTable(spark: SparkSession, ifNotExists: Boolean,
      name: String, defs: Seq[ColDef], temporary: Boolean,
      status: String => DataFrame): DataFrame = {
    // Memory tables live behind temp views, which cannot carry a db
    // qualifier — refuse a dotted name up front with a clear message
    // instead of surfacing Spark's raw temp-view error
    require(!name.contains("."),
      s"ChSql: Memory/TEMPORARY table names cannot be qualified ('$name') — " +
        "use a bare name (temp-view backed, not attached to a database)")
    if (memTables.contains(name)) {
      if (ifNotExists) return status(s"table $name already exists")
      throw new IllegalArgumentException(s"ChSql: table $name already exists")
    }
    require(defs.forall(_.modKind.isEmpty),
      "ChSql: Memory/TEMPORARY tables take plain typed columns " +
        "(no DEFAULT/MATERIALIZED/ALIAS)")
    val schema0 = graft.model.ChTypes.toSparkSchema(
      defs.map(d => s"${d.name} ${d.chType.getOrElse(
        throw new IllegalArgumentException(
          s"ChSql: column ${d.name} needs a type"))}").mkString(", "))
    // storage-side nullability relaxes like the parquet tables; the
    // DECLARED Nullable set rides separately so short INSERTs fill CH's
    // type default into non-Nullable columns, NULL into Nullable ones
    val schema = org.apache.spark.sql.types.StructType(
      schema0.fields.map(_.copy(nullable = true)))
    val mt = MemTable(schema,
      scala.collection.mutable.ArrayBuffer.empty, temporary,
      schema0.fields.filter(_.nullable).map(_.name).toSet)
    memTables.put(name, mt)
    refreshMemView(spark, name, mt)
    status(s"table $name created (${if (temporary) "temporary, " else ""}" +
      "Memory engine)")
  }

  /** INSERT into a Memory table: align, evaluate, append, refresh view. */
  private def memAppend(spark: SparkSession, name: String, mt: MemTable,
      cols: Seq[String], rows: DataFrame): Unit = {
    val target = mt.schema
    val src = rows.columns
    val provided: Map[String, Int] =
      if (cols.nonEmpty) {
        val unknown = cols.filterNot(target.fieldNames.contains)
        require(unknown.isEmpty, s"ChSql: INSERT INTO $name: no such " +
          s"column(s) ${unknown.mkString(", ")}")
        require(cols.size == src.length, s"ChSql: INSERT column list has " +
          s"${cols.size} names but the data has ${src.length} columns")
        cols.zipWithIndex.toMap
      } else {
        require(target.size == src.length, s"ChSql: table $name takes " +
          s"${target.size} columns but the data has ${src.length}")
        target.fieldNames.zipWithIndex.toMap
      }
    val aligned = rows.select(target.fields.map(f =>
      provided.get(f.name)
        .map(i => col(src(i)).cast(f.dataType).as(f.name))
        .getOrElse(
          (if (mt.declaredNull(f.name)) lit(null)
           else chTypeDefault(f.dataType)).cast(f.dataType).as(f.name)))
      .toSeq: _*)
    val fresh = aligned.collect()
    // CH parity: the Memory engine also rejects NULL into a declared
    // non-Nullable column (rows are driver-resident here, so the check
    // is a plain scan of the batch rather than a raise_error column)
    val guarded = target.fields.zipWithIndex
      .filterNot { case (f, _) => mt.declaredNull(f.name) }
    fresh.foreach { r =>
      guarded.foreach { case (f, i) =>
        require(!r.isNullAt(i),
          s"ChSql: cannot write NULL into non-Nullable column " +
            s"${f.name} of $name")
      }
    }
    require(mt.rows.size + fresh.length <= MemRowCap,
      s"ChSql: Memory table $name would exceed $MemRowCap rows — " +
        "use a MergeTree (parquet) table for data at scale")
    mt.rows ++= fresh
    refreshMemView(spark, name, mt)
  }

  // ===================== MATERIALIZED / LIVE VIEW =====================

  /** Each materialized view's source table, so WATCH can rebuild the
    * stream twin from the registered name. */
  private val mvSources =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** `CREATE MATERIALIZED VIEW v [TO t] [POPULATE] AS SELECT`: register
    * the transform in the [[graft.streaming.StreamingOps]] MV registry
    * (one function, applied identically in batch backfill and streaming
    * refresh — the Kappa contract). POPULATE runs the batch backfill now:
    * into the TO target when it is a writable catalog table, else as a
    * queryable temp view named after the MV (CH's implicit inner table). */
  private def createMaterializedView(spark: SparkSession, live: Boolean,
      name: String, target: Option[String], populate: Boolean,
      sel: ChSql.SetOp, resolve: String => DataFrame,
      status: String => DataFrame): DataFrame = {
    import graft.streaming.StreamingOps
    val src = ChSql.firstTable(sel).getOrElse(throw new IllegalArgumentException(
      s"ChSql: materialized view $name has no source table in its SELECT"))
    val transform: DataFrame => DataFrame =
      in => ChSql.plan(spark, sel)(n => if (n == src) in else resolve(n))
    StreamingOps.register(StreamingOps.MaterializedView(name, transform))
    mvSources.put(name, src)
    if (populate) {
      val out = StreamingOps.populate(
        StreamingOps.MaterializedView(name, transform), resolve(src))
      target match {
        case Some(t) if spark.catalog.tableExists(t) =>
          // POPULATE writes into a real table: the NULL-write guard
          // applies here like any INSERT — a NULL-producing view select
          // must not plant a NULL that declared non-Nullable reads
          // (readTable's AssertNotNull) would then throw on
          sizedWrite(guardNonNullableWrites(tablePropsSafe(spark, t), out, t))
            .write.mode(SaveMode.Append).insertInto(t)
        case _ => out.createOrReplaceTempView(target.getOrElse(name))
      }
    }
    status(s"${if (live) "live" else "materialized"} view $name created" +
      (if (populate) " and populated" else ""))
  }

  /** `WATCH v`: the client-facing subscription — returns the STREAMING
    * twin of the registered transform over the view's file-backed source
    * (the path is recovered from the batch resolver's scan relation, so
    * the same statement works wherever tables are parquet-backed). The
    * caller attaches the sink and owns the query lifetime. */
  private def watchView(spark: SparkSession, name: String,
      resolve: String => DataFrame, events: Boolean = false): DataFrame = {
    import graft.streaming.StreamingOps
    val src = mvSources.getOrElse(name, throw new IllegalArgumentException(
      s"ChSql: WATCH: unknown view '$name' (CREATE MATERIALIZED VIEW first)"))
    val srcBatch = resolve(src)
    val paths = filePaths(spark, srcBatch)
    require(paths.nonEmpty,
      s"ChSql: WATCH $name: source table '$src' is not file-backed")
    if (events)
      StreamingOps.watchEvents(spark, name, paths.head, srcBatch.schema)
    else StreamingOps.watch(spark, name, paths.head, srcBatch.schema)
  }

  // ===================== CREATE TABLE =====================

  /** One parsed column definition from the CREATE TABLE schema clause
    * (tableColumnDfnt, ClickHouseParser.py:6418-6743): `name [Type]
    * [DEFAULT|MATERIALIZED|ALIAS expr] [CODEC(...)] [TTL ...]
    * [COMMENT 'text']`. CODEC and per-column TTL are accepted and ignored
    * (parquet compression is table-level; TTL is the engine clause). */
  private final case class ColDef(name: String, chType: Option[String],
      modKind: Option[String], modExpr: Option[String], comment: Option[String])

  private val ColMods = Seq("DEFAULT", "MATERIALIZED", "ALIAS", "CODEC",
    "COMMENT", "TTL")

  /** The column definition in tokens [from, until) of `c` — the type
    * text and the modifier expression are slices of the original cut at
    * top-level modifier keywords, so `DEFAULT ') ENGINE = x'` parses as
    * the string literal it is. */
  private def colDef(c: Cur, from: Int, until: Int): ColDef = {
    val name = c.toks(from)._1 match {
      case t: ChSql.TId => t.s
      case _ => c.fail(s"bad column definition '${c.slice(from, until)}'")
    }
    val marks = Iterator.iterate(c.find(from + 1, until, ColMods: _*))(
      i => c.find(i + 1, until, ColMods: _*)).takeWhile(_ < until).toSeq
    val chType = Some(c.slice(from + 1, marks.headOption.getOrElse(until)).trim)
      .filter(_.nonEmpty)
    var modKind: Option[String] = None
    var modExpr: Option[String] = None
    var comment: Option[String] = None
    marks.zip(marks.drop(1) :+ until).foreach { case (m, bodyEnd) =>
      c.slice(m, m + 1).toUpperCase(java.util.Locale.ROOT) match {
        case kw @ ("DEFAULT" | "MATERIALIZED" | "ALIAS") =>
          modKind = Some(kw)
          modExpr = Some(c.slice(m + 1, bodyEnd).trim)
        case "COMMENT" => c.toks(m + 1)._1 match {
          case TStr(v) if m + 1 < bodyEnd => comment = Some(v)
          case _ => c.fail(s"COMMENT on column $name needs a string literal")
        }
        case _ => // CODEC(...) / column-level TTL: accepted, no Spark twin
      }
    }
    ColDef(name, chType, modKind, modExpr, comment)
  }

  /** A catalog (parquet/File) table from a CREATE TABLE column list. */
  private def createStoredTable(spark: SparkSession, spec: TableSpec,
      engine: String, status: String => DataFrame): DataFrame = {
    val (name, ifNotExists, defs) = (spec.name, spec.ifNot, spec.cols)
    val engineArgs = spec.engineArgs.getOrElse("")
    // ALIAS columns are never stored (CH computes them at SELECT time);
    // everything else lands in the physical schema
    val stored = defs.filterNot(_.modKind.contains("ALIAS"))
    stored.foreach(d => require(d.chType.nonEmpty,
      s"ChSql: column ${d.name} needs a type (only ALIAS columns may omit it)"))
    val schema = graft.model.ChTypes.toSparkSchema(
      stored.map(d => s"${d.name} ${d.chType.get}").mkString(", "))
    val orderBy = spec.clauses.get("ORDER BY")
    val partitionBy = spec.clauses.get("PARTITION BY")
    val ttl = spec.clauses.get("TTL")
    // PRIMARY KEY (primaryKeyClause, ClickHouseParser.py:6013-6062): CH
    // requires it to be a prefix of the sorting key — enforce, then
    // record; SAMPLE BY (sampleByClause, 6063-6112) arms SAMPLE k/m reads
    // on this table without a per-query SETTINGS override
    val primaryKey = spec.clauses.get("PRIMARY KEY")
    primaryKey.foreach { pk =>
      val ob = orderBy.getOrElse(pk)
      require((ob + ",").replaceAll("\\s", "")
          .startsWith(pk.replaceAll("\\s", "") + ","),
        s"ChSql: PRIMARY KEY ($pk) must be a prefix of ORDER BY ($ob)")
    }
    val sampleBy = spec.clauses.get("SAMPLE BY")
    sampleBy.foreach(sb => require(schema.fieldNames.contains(sb),
      s"ChSql: SAMPLE BY $sb is not a stored column"))
    // ReplacingMergeTree(v): the engine argument is the version column
    val version = if (engine.equalsIgnoreCase("ReplacingMergeTree"))
      Some(engineArgs.trim).filter(_.nonEmpty) else None
    // SummingMergeTree([c, ...]): optional summed-column list (empty =
    // every numeric non-key column, the CH default) — recorded even when
    // empty so the engine's collapse stays armed
    val sumColsProp = if (engine.equalsIgnoreCase("SummingMergeTree")) {
      val cs = engineArgs.split(",").map(_.trim).filter(_.nonEmpty)
      cs.foreach(c => require(schema.fieldNames.contains(c),
        s"ChSql: SummingMergeTree column $c is not a stored column"))
      Some(cs.mkString(","))
    } else None
    // CollapsingMergeTree(sign): the sign column is mandatory
    val signCol = if (engine.equalsIgnoreCase("CollapsingMergeTree")) {
      val sc = engineArgs.trim
      require(sc.nonEmpty && !sc.contains(","),
        "ChSql: CollapsingMergeTree needs exactly one sign column argument")
      require(schema.fieldNames.contains(sc),
        s"ChSql: CollapsingMergeTree sign column $sc is not a stored column")
      Some(sc)
    } else None
    // VersionedCollapsingMergeTree(sign, version): cancellation is scoped
    // per (key, version) — sign rides graft.sign, version graft.version
    // (the same property ReplacingMergeTree uses; one engine owns it)
    val vcCols = if (engine.equalsIgnoreCase("VersionedCollapsingMergeTree")) {
      val cs = engineArgs.split(",").map(_.trim).filter(_.nonEmpty)
      require(cs.length == 2,
        "ChSql: VersionedCollapsingMergeTree needs (sign, version) arguments")
      cs.foreach(c => require(schema.fieldNames.contains(c),
        s"ChSql: VersionedCollapsingMergeTree column $c is not a stored column"))
      Some((cs(0), cs(1)))
    } else None
    // AggregatingMergeTree: each AggregateFunction(f, ...) column records
    // its stem so FINAL/OPTIMIZE knows which state-merge to apply
    val aggFuncProps = stored.flatMap(d => d.chType
      .flatMap(graft.model.ChTypes.aggFunctionStem)
      .map(stem => s"graft.aggfunc.${d.name}" -> stem))
    require(aggFuncProps.isEmpty ||
        engine.equalsIgnoreCase("AggregatingMergeTree"),
      "ChSql: AggregateFunction columns need ENGINE = AggregatingMergeTree")
    // SimpleAggregateFunction(f, T): the value IS the state (type erases
    // to T); under AggregatingMergeTree the stem drives the merge fold
    val simpleAggProps = stored.flatMap(d => d.chType
      .flatMap(graft.model.ChTypes.simpleAggFunctionStem)
      .map(stem => s"graft.simpleagg.${d.name}" -> stem))
    // the schema stores the state's STORAGE type; keep the declared
    // [Simple]AggregateFunction text so SHOW CREATE round-trips exactly
    val aggTypeProps = stored.collect {
      case d if d.chType.exists(t =>
          graft.model.ChTypes.aggFunctionStem(t).isDefined ||
          graft.model.ChTypes.simpleAggFunctionStem(t).isDefined) =>
        s"graft.aggtype.${d.name}" -> d.chType.get
    }

    // File(Format) table engine (CH tableEngine File): the table's
    // storage IS the declared interchange format — CREATE/INSERT/SELECT
    // work unchanged through the catalog; like CH, the engine supports
    // no sorting key, no partitions, no TTL, and no mutations
    val fileFmt: Option[(String, Seq[(String, String)], String)] =
      if (engine.equalsIgnoreCase("File")) {
        val declared = engineArgs.trim
        require(declared.nonEmpty, "ChSql: ENGINE = File needs a format")
        val mapped = declared.toUpperCase(java.util.Locale.ROOT) match {
          case "CSV" => ("csv", Seq("header" -> "false"))
          case "CSVWITHNAMES" => ("csv", Seq("header" -> "true"))
          case "TSV" | "TABSEPARATED" =>
            ("csv", Seq("header" -> "false", "sep" -> "\t"))
          case "TSVWITHNAMES" | "TABSEPARATEDWITHNAMES" =>
            ("csv", Seq("header" -> "true", "sep" -> "\t"))
          case "JSONEACHROW" | "NDJSON" => ("json", Seq.empty[(String, String)])
          case "PARQUET" => ("parquet", Seq.empty[(String, String)])
          case "ORC" => ("orc", Seq.empty[(String, String)])
          case other => throw new IllegalArgumentException(
            s"ChSql: ENGINE = File($other): supported formats here are " +
              "CSV[WithNames], TSV[WithNames], JSONEachRow, Parquet, ORC")
        }
        require(orderBy.isEmpty && partitionBy.isEmpty && ttl.isEmpty &&
          sampleBy.isEmpty && primaryKey.isEmpty,
          "ChSql: ENGINE = File supports none of ORDER BY / PARTITION BY / " +
            "PRIMARY KEY / SAMPLE BY / TTL (CH parity)")
        Some((mapped._1, mapped._2, declared))
      } else None

    if (ifNotExists && spark.catalog.tableExists(name))
      return status(s"table $name already exists")
    if (!spark.catalog.tableExists(name)) dropStaleLocation(spark, name)

    val partCols = partitionBy.toSeq.flatMap(_.split(",")).map(_.trim)
      .filter(_.nonEmpty)
      // PARTITION BY toYYYYMM(d)-style expressions have no direct Spark
      // DDL twin; only plain column partitioning maps to real layout
      .filter(schema.fieldNames.contains)
    val props = Seq(
      "graft.engine" -> engine,
      // the DECLARED column order: the catalog moves partition columns to
      // the end of its schema, but CH positional INSERT follows the order
      // the user wrote — appendInto restores it from this property
      "graft.columns" -> stored.map(_.name).mkString(","),
      // the DECLARED Nullable(...) columns: rewrite mutations relax every
      // physical field to nullable, so the schema flag stops meaning
      // "declared Nullable" after the first UPDATE/DELETE/OPTIMIZE — and
      // the omitted-INSERT / CLEAR COLUMN fill rule needs the declaration
      // (CH fills the TYPE default for non-Nullable, NULL for Nullable)
      "graft.nullcols" ->
        schema.fields.filter(_.nullable).map(_.name).mkString(",")) ++
      orderBy.map("graft.order_by" -> _) ++
      version.map("graft.version" -> _) ++
      sumColsProp.map("graft.sum_cols" -> _) ++
      signCol.map("graft.sign" -> _) ++
      vcCols.toSeq.flatMap { case (sg, ver) =>
        Seq("graft.sign" -> sg, "graft.version" -> ver) } ++
      aggFuncProps ++ simpleAggProps ++ aggTypeProps ++
      ttl.map("graft.ttl" -> _) ++
      primaryKey.map("graft.primary_key" -> _) ++
      sampleBy.map("graft.sample_by" -> _) ++
      spec.settings.map { case (k, v) => s"graft.setting.$k" -> v } ++
      defs.collect { case d if d.modKind.contains("DEFAULT") =>
        s"graft.default.${d.name}" -> d.modExpr.get } ++
      defs.collect { case d if d.modKind.contains("MATERIALIZED") =>
        s"graft.materialized.${d.name}" -> d.modExpr.get } ++
      defs.collect { case d if d.modKind.contains("ALIAS") =>
        s"graft.alias.${d.name}" -> d.modExpr.get } ++
      defs.collect { case d if d.modKind.contains("ALIAS") && d.chType.nonEmpty =>
        s"graft.aliastype.${d.name}" -> d.chType.get }
    val propsSql = (props ++
      fileFmt.map { case (_, _, declared) => "graft.file_format" -> declared })
      .map { case (k, v) => s"${sqlLit(k)}=${sqlLit(v)}" }.mkString(", ")
    val partSql =
      if (partCols.isEmpty) "" else partCols.mkString(" PARTITIONED BY (", ", ", ")")
    val usingFmt = fileFmt.map(_._1).getOrElse("parquet")
    val optsSql = fileFmt.map(_._2).filter(_.nonEmpty)
      .map(_.map { case (k, v) => s"${sqlLit(k)} ${sqlLit(v)}" }
        .mkString(" OPTIONS (", ", ", ")")).getOrElse("")
    spark.sql(
      s"CREATE TABLE ${if (ifNotExists) "IF NOT EXISTS " else ""}$name " +
        s"(${schema.toDDL}) USING $usingFmt$optsSql$partSql " +
        s"TBLPROPERTIES ($propsSql)")
    // column comments are catalog metadata — zero-job ALTER COLUMN
    defs.filter(d => d.comment.nonEmpty && !d.modKind.contains("ALIAS"))
      .foreach { d =>
        spark.sql(s"ALTER TABLE $name ALTER COLUMN ${d.name} " +
          s"COMMENT ${sqlLit(d.comment.get)}")
      }
    status(s"table $name created")
  }

  // ===================== INSERT =====================

  /** `INSERT INTO [TABLE] t [(cols)] VALUES (...), ... | SELECT ... |
    * FORMAT f <rows>` (insertStmt). */
  private def insert(spark: SparkSession, c: Cur,
      resolve: String => DataFrame, status: String => DataFrame): DataFrame = {
    c.expectKw("INTO")
    c.eatKw("TABLE")
    val name = c.name("a table name")
    val cols =
      if (!c.isP("(")) Nil
      else {
        val (from, until) = c.group()
        c.items(from, until).map { case (a, b) =>
          c.toks(a)._1 match {
            case t: ChSql.TId if b == a + 1 => t.s
            case _ => c.fail(s"bad INSERT column '${c.slice(a, b)}'")
          }
        }
      }
    if (c.eatKw("FORMAT")) {
      // INSERT ... FORMAT <fmt> <inline rows> (insertStmt data clause,
      // ClickHouseParser.py:7796-7856): the lexer hands the rows over as
      // one raw token
      val fmt = c.ident("a format name")
      val data = if (c.atEnd) "" else c.str("inline rows")
      c.done()
      appendInto(spark, name, cols, inlineRows(spark, name, cols, fmt, data))
      status(s"inserted into $name ($fmt)")
    } else {
      val rows =
        if (c.eatKw("VALUES")) valuesFrame(spark, c, resolve)
        else if (c.isKw("SELECT") || c.isKw("WITH") || c.isP("("))
          ChSql.plan(spark, c.query())(resolve)
        else c.fail(s"INSERT INTO $name needs VALUES, SELECT or FORMAT")
      appendInto(spark, name, cols, rows)
      status(s"inserted into $name")
    }
  }

  /** Parse `(...), (...)` VALUES tuples through the shared expression
    * grammar; each scalar is compiled by [[ChSql.compileExpr]], so
    * function calls (`toDate('...')`, `now()`) work, not just literals.
    * All tuples inline into ONE `explode(array(struct...))` over a
    * single-row range — O(1) plan depth however many tuples ride the
    * statement (a per-tuple union builds an O(n)-deep plan that slows
    * analysis and can overflow the stack on large VALUES lists). */
  private def valuesFrame(spark: SparkSession, c: Cur,
      resolve: String => DataFrame): DataFrame = {
    val tuples = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    while (c.isP("(")) { tuples += c.group(); c.eatP(",") }
    c.done()
    require(tuples.nonEmpty, "ChSql: INSERT VALUES needs at least one tuple")
    val rows = tuples.toSeq.map { case (from, until) =>
      c.items(from, until).map { case (a, b) =>
        ChSql.compileExpr(spark, c.expr(a, b), resolve)
      }
    }
    val arity = rows.head.size
    require(rows.forall(_.size == arity),
      s"ChSql: INSERT VALUES tuples have mixed arities")
    val structs = rows.map(cs =>
      struct(cs.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*))
    spark.range(1).select(explode(array(structs: _*)).as("__t"))
      .select((0 until arity).map(i => col(s"__t.c$i").as(s"c$i")): _*)
  }

  /** Align `rows` to the target table schema (by the given column list,
    * or positionally when absent) and append distributedly — one lazy
    * plan, no extra pass over the data. Missing columns fill with their
    * recorded `DEFAULT`/`MATERIALIZED` expression (compiled over the
    * provided columns — CH defaults may reference other inserted
    * columns), else typed NULLs. MATERIALIZED columns cannot be inserted
    * explicitly and are excluded from positional arity (CH's contract). */
  private def appendInto(spark: SparkSession, name: String,
      cols: Seq[String], rows: DataFrame): Unit = {
    memTables.get(name).foreach { mt =>
      memAppend(spark, name, mt, cols, rows)
      return
    }
    require(spark.catalog.tableExists(name),
      s"ChSql: INSERT INTO unknown table '$name' (CREATE TABLE it first)")
    val target = spark.table(name).schema
    val props = tablePropsSafe(spark, name)
    val materialized = target.fieldNames
      .filter(c => props.contains(s"graft.materialized.$c")).toSet
    def defaultOf(c: String): Option[String] =
      props.get(s"graft.default.$c").orElse(props.get(s"graft.materialized.$c"))
    val byName = cols.nonEmpty
    if (byName) {
      require(cols.size == rows.columns.length,
        s"ChSql: INSERT column list has ${cols.size} names but the data has " +
          s"${rows.columns.length} columns")
      // a duplicate name would silently drop all but one of its values
      // (the by-name index map keeps the last) — refuse like CH does
      // (DDL fuzz gate discovery, seed 329)
      val dups = cols.diff(cols.distinct).distinct
      require(dups.isEmpty,
        s"ChSql: INSERT INTO $name lists column(s) ${dups.mkString(", ")} " +
          "more than once")
      val unknown = cols.filterNot(target.fieldNames.contains)
      require(unknown.isEmpty,
        s"ChSql: INSERT INTO $name: no such column(s) ${
          unknown.mkString(", ")} (table has ${target.fieldNames.mkString(", ")})")
      val matExplicit = cols.filter(materialized)
      require(matExplicit.isEmpty,
        s"ChSql: cannot INSERT into MATERIALIZED column(s) ${
          matExplicit.mkString(", ")}")
    } else {
      val insertable = target.fields.count(f => !materialized(f.name))
      require(insertable == rows.columns.length,
        s"ChSql: table $name takes $insertable insertable columns but the " +
          s"data has ${rows.columns.length} (use an explicit column list)")
    }
    val src = rows.columns
    // positional binding follows the DECLARED order (the catalog puts
    // partition columns last; CH binds by the order the user wrote);
    // columns added later (metadata ADD COLUMN) append at the end
    val declared0 = props.get("graft.columns")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    val declared = declared0.filter(target.fieldNames.contains) ++
      target.fieldNames.filterNot(declared0.contains)
    val provided: Map[String, Int] =
      if (byName) cols.zipWithIndex.toMap
      else declared.filterNot(materialized).zipWithIndex.toMap
    // pass 1: provided columns renamed + cast to their target names, so
    // default expressions can reference them by name
    val base = rows.select(target.fields.toSeq.flatMap(f =>
      provided.get(f.name).map(i => col(src(i)).cast(f.dataType).as(f.name))): _*)
    val aligned = base.select(target.fields.map { f =>
      if (provided.contains(f.name)) col(f.name)
      else defaultOf(f.name) match {
        case Some(ex) => ChSql.compileExpr(spark, ex, spark.table(_))
          .cast(f.dataType).as(f.name)
        case None =>
          // CH's omitted-column rule: Nullable columns fill NULL, every
          // other type fills its implicit default (0, '', epoch, []) —
          // decided by the DECLARATION, not the (mutation-relaxed) flag
          if (colDeclaredNullable(props, f.name, f.nullable))
            lit(null).cast(f.dataType).as(f.name)
          else chTypeDefault(f.dataType).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
    // CH parity: an explicit (or SELECT-produced) NULL bound to a declared
    // non-Nullable column is an insert-time error, not a silent store
    val checked = guardNonNullableWrites(props, aligned, name)
    sizedWrite(checked).write.mode(SaveMode.Append).insertInto(name)
    maintainProjectionsOnInsert(spark, name, checked)
  }

  /** Read-time fill for columns ADDed after rows were written: CH
    * computes the DEFAULT (or the type's implicit default) for old parts
    * at read/merge time — ADD COLUMN itself stays metadata-only. Old
    * parquet files read the missing column as NULL, and for a
    * non-Nullable added column NULL can ONLY mean "pre-ADD row" — the
    * write path enforces this ([[guardNonNullableWrites]] rejects NULL
    * INSERTs/UPDATEs into declared non-Nullable columns, CH parity) — so
    * a coalesce over the recorded fill is exact. (A Nullable added column
    * with a DEFAULT keeps NULL for old rows — coalesce can't tell a
    * pre-ADD row from a genuinely inserted NULL; documented divergence,
    * warned at ALTER time and pinned in DdlSurfaceSpec.)
    * Markers (`graft.addfill.<c>`) are cleared by the first full rewrite
    * (rewriteSwap materializes the fill — CH's merge does the same). */
  private def addFillDecorate(spark: SparkSession, name: String,
      df: DataFrame, props: Map[String, String]): DataFrame = {
    val fills = props.keys.filter(_.startsWith("graft.addfill."))
      .map(_.stripPrefix("graft.addfill.")).toSeq.sorted
    fills.foldLeft(df) { (d, c) =>
      if (!d.columns.contains(c)) d
      else {
        val dt = d.schema(c).dataType
        val fill = Some(props(s"graft.addfill.$c")).filter(_.trim.nonEmpty)
          .map(ex => ChSql.compileExpr(spark, ex, spark.table(_)))
          .getOrElse(chTypeDefault(dt))
        d.withColumn(c, coalesce(col(c), fill.cast(dt)))
      }
    }
  }

  /** A catalog table read decorated with its ALIAS columns (`c Type ALIAS
    * expr` — computed at SELECT time, never stored; [[createTable]]
    * records them as `graft.alias.*` properties) and post-ADD column
    * fills. Text-layer resolvers should prefer this over bare
    * `spark.table`. */
  def readTable(spark: SparkSession, name: String): DataFrame = {
    val props = tablePropsSafe(spark, name)
    val df0 = addFillDecorate(spark, name, spark.table(name), props)
    // restore the DECLARED nullability on the read: parquet storage is
    // relaxed to all-nullable (rewrite mutations re-save from a
    // DataFrame), so without this every SELECT — and crucially every
    // CTAS, which derives ITS declared-Nullable set from the SELECT's
    // schema (CH: column types come from the expression types) — sees
    // Nullable everywhere. AssertNotNull flips the schema flag and is a
    // row-local codegen'd no-op on the actual values: after the
    // addFillDecorate coalesce above, NULL cannot legitimately appear in
    // a declared non-Nullable column (guardNonNullableWrites rejects
    // NULL writes), so the assert is provenance, not a filter.
    //
    // REPAIR ESCAPE HATCH for legacy data written before the write
    // guards existed (a stored NULL in a declared non-Nullable column
    // would otherwise make every SELECT throw, including the repair
    // query itself): `SET graft.nullability.read = 'fill'` swaps the
    // assert for a coalesce to the column's TYPE DEFAULT (the CH
    // default-fill contract) — same non-nullable output schema, and any
    // rewrite (CTAS / INSERT SELECT / OPTIMIZE-style re-save) run under
    // the setting permanently materializes the defaults.
    val repairFill = spark.conf.getOption("graft.nullability.read")
      .exists(_.equalsIgnoreCase("fill"))
    val df = declaredNullCols(props) match {
      case None => df0
      case Some(nullable) => df0.select(df0.schema.fields.map { f =>
        if (nullable(f.name)) col(f.name)
        else if (repairFill)
          coalesce(col(f.name), chTypeDefault(f.dataType).cast(f.dataType))
            .as(f.name)
        else org.apache.spark.sql.graftbridge.ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              col(f.name)))).as(f.name)
      }.toSeq: _*)
    }
    val aliases = props.keys.filter(_.startsWith("graft.alias."))
      .map(_.stripPrefix("graft.alias.")).toSeq.sorted
    aliases.foldLeft(df) { (d, c) =>
      val ex = ChSql.compileExpr(spark, props(s"graft.alias.$c"), spark.table(_))
      val typed = props.get(s"graft.aliastype.$c")
        .map(t => ex.cast(graft.model.ChTypes.toSpark(t))).getOrElse(ex)
      d.withColumn(c, typed)
    }
  }

  /** Inline `FORMAT <fmt>` data rows → a typed DataFrame against the
    * target's (possibly column-subset) schema. JSONEachRow parses through
    * Spark's JSON reader; CSV/TSV[WithNames] through the CSV reader —
    * both distributed readers over a Dataset[String], not driver loops. */
  private def inlineRows(spark: SparkSession, name: String,
      cols: Seq[String], fmt: String, data: String): DataFrame = {
    import spark.implicits._
    require(spark.catalog.tableExists(name),
      s"ChSql: INSERT INTO unknown table '$name'")
    val target = spark.table(name).schema
    val schema = org.apache.spark.sql.types.StructType(
      if (cols.isEmpty) target.fields.toSeq
      else cols.map(c => target(target.fieldIndex(c))))
    val lines = data.split("\n").map(_.trim).filter(_.nonEmpty).toSeq.toDS()
    // FAILFAST: a malformed inline row must reject the INSERT (CH does),
    // not silently append a row of NULLs (Spark's default PERMISSIVE)
    fmt.toLowerCase(java.util.Locale.ROOT) match {
      case "jsoneachrow" =>
        spark.read.schema(schema).option("mode", "FAILFAST").json(lines)
          .select(schema.fieldNames.map(col): _*) // JSON is order-free
      case "csv" | "csvwithnames" =>
        spark.read.schema(schema).option("mode", "FAILFAST")
          .option("header", fmt.equalsIgnoreCase("CSVWithNames")).csv(lines)
      case "tabseparated" | "tsv" | "tabseparatedwithnames" | "tsvwithnames" =>
        spark.read.schema(schema).option("mode", "FAILFAST").option("sep", "\t")
          .option("header", fmt.toLowerCase(java.util.Locale.ROOT).endsWith("withnames")).csv(lines)
      case other => throw new IllegalArgumentException(
        s"ChSql: unsupported inline INSERT FORMAT '$other'")
    }
  }

  // ===================== ALTER =====================

  /** A sidecar bloom skip index kind (r12): its ADD INDEX type, table
    * property stem, status label, the scans it prunes, and its builder
    * and sidecar table name in [[graft.plans.BloomSkipIndex]]. */
  private final case class BloomKind(typ: String, prop: String, label: String,
      scans: String, build: (SparkSession, String, String) => String,
      sidecar: (String, String) => String)
  private val BloomKinds = {
    import graft.plans.BloomSkipIndex._
    Seq(BloomKind("bloom_filter", "graft.bloomindex.", "bloom", "equality/IN",
        materialize, sidecarName),
      BloomKind("tokenbf_v1", "graft.tokbloomindex.", "token bloom", "hasToken",
        materializeTokens, tokenSidecarName),
      BloomKind("ngrambf_v1", "graft.ngrambloomindex.", "ngram bloom",
        "LIKE-substring", materializeNgrams, ngramSidecarName))
  }

  /** `ALTER TABLE name <clause>` read from the cursor, which stands at the
    * clause (alterTableClause, ClickHouseParser.py:2178-2960). */
  private def alterTable(spark: SparkSession, cur: Cur, name: String,
      resolve: String => DataFrame, status: String => DataFrame): DataFrame = {
    import graft.operators.Mutations
    val clauseAt = cur.pos
    def column(): String = cur.ident("a column name")
    def ended(): Unit = cur.done()
    def kw(kws: String*): Boolean = cur.eatKw(kws: _*)

    if (kw("DELETE")) {
      status(s"mutation applied to $name (delete; ${
        deleteRows(spark, cur, name, resolve, "ALTER ... DELETE needs WHERE")})")
    } else if (kw("UPDATE")) {
      val (cols, scope) = updateRows(spark, cur, name, resolve,
        "ALTER ... UPDATE needs assignments and WHERE")
      status(s"mutation applied to $name (update ${cols.mkString(",")}; $scope)")
    } else if (kw("ADD", "COLUMN")) {
      // metadata-only in CH AND in Spark: the catalog schema grows, old
      // parquet files simply read the new column as NULL — zero jobs, no
      // rewrite (AlterTableAddColumnsCommand). An optional DEFAULT rides
      // as a graft.default property for future INSERTs.
      cur.ifNotExists()
      // optional position clause (AlterTableClauseAddColumn AFTER,
      // ClickHouseParser.py:2896-2960): placement is declared-order
      // metadata — the physical parquet schema appends, positional
      // INSERT and SHOW CREATE follow graft.columns
      val defEnd = cur.upTo("AFTER", "FIRST")
      val d = colDef(cur, cur.pos, defEnd)
      cur.pos = defEnd
      val afterCol = if (kw("AFTER")) Some(column()) else None
      val isFirst = kw("FIRST")
      ended()
      require(!d.modKind.contains("ALIAS"), // ALIAS add = property only
        "ChSql: ADD COLUMN ... ALIAS: use CREATE TABLE ALIAS columns")
      val dt = graft.model.ChTypes.toSpark(d.chType.getOrElse(
        throw new IllegalArgumentException(
          s"ChSql: ADD COLUMN ${d.name} needs a type")))
      if (spark.table(name).columns.contains(d.name))
        status(s"column ${d.name} already exists in $name")
      else {
        spark.sql(s"ALTER TABLE $name ADD COLUMNS (${d.name} ${dt.sql})")
        d.modExpr.foreach { ex =>
          val kind = if (d.modKind.contains("MATERIALIZED")) "materialized"
            else "default"
          spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
            s"${sqlLit(s"graft.$kind.${d.name}")}=${sqlLit(ex)})")
        }
        // maintain the declared-Nullable list, and for a non-Nullable add
        // record the read-time fill (CH: old parts read the DEFAULT — or
        // the type's implicit default — for a column they don't store)
        val declaredNullable = graft.model.ChTypes
          .toSparkSchema(s"${d.name} ${d.chType.get}").head.nullable
        setNullColMembership(spark, name, d.name, declaredNullable)
        if (!declaredNullable)
          spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
            s"${sqlLit(s"graft.addfill.${d.name}")}=${
              sqlLit(d.modExpr.getOrElse(""))})")
        if (afterCol.nonEmpty || isFirst) {
          val props = tablePropsSafe(spark, name)
          val declared = props.get("graft.columns")
            .map(_.split(",").map(_.trim).toSeq)
            .getOrElse(spark.table(name).columns.toSeq)
            .filterNot(_ == d.name)
          val ordered = afterCol match {
            case Some(a) =>
              require(declared.contains(a),
                s"ChSql: ADD COLUMN AFTER $a: no such column in $name")
              declared.flatMap(c => if (c == a) Seq(c, d.name) else Seq(c))
            case None => d.name +: declared
          }
          spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
            s"'graft.columns'=${sqlLit(ordered.mkString(","))})")
        }
        // documented divergence, surfaced at ALTER time: CH computes the
        // DEFAULT for old parts of a Nullable added column too; here old
        // rows read NULL (no addfill marker — NULL is a legal value for
        // the column, so a read-time coalesce could not tell a pre-ADD
        // row from a genuinely inserted NULL)
        val warn = if (declaredNullable &&
            d.modExpr.nonEmpty && !d.modKind.contains("MATERIALIZED"))
          "; WARNING: pre-existing rows read NULL, not the DEFAULT " +
            "(Nullable added column — divergence from ClickHouse)"
        else ""
        status(s"added column ${d.name} to $name (metadata only)$warn")
      }
    } else if (kw("DROP", "COLUMN")) {
      // genuinely rewrites data on immutable parquet (no column-mapping
      // metadata layer); a table format would make it metadata-only
      cur.ifExists()
      val c = column()
      ended()
      rewriteSwap(spark, name)(Mutations.dropColumn(_, c))
      // scrub the column's metadata: a surviving graft.default.<c> would
      // silently RESURRECT the old default if the column is later
      // re-ADDed, and a stale graft.columns entry pollutes declared order
      rekeyColProps(spark, name, c, None)
      status(s"dropped column $c from $name")
    } else if (kw("RENAME", "COLUMN")) {
      // CH renames are metadata, but plain parquet resolves columns BY
      // NAME — a catalog-only rename would silently read NULLs from every
      // existing file. The honest Spark-on-parquet cost is a rewrite; a
      // field-id table format (Iceberg) would make this metadata-only.
      cur.ifExists()
      val from = column()
      cur.expectKw("TO")
      val to = column()
      ended()
      rewriteSwap(spark, name)(Mutations.renameColumn(_, from, to))
      // re-key column-scoped metadata: a stale old name in graft.columns
      // silently REORDERS positional INSERT binding (the renamed column
      // drops out of the declared list and re-appends at the end, so
      // later positional INSERTs bind values to the wrong columns —
      // found by the r10 DDL fuzz gate, col_alter arm, seeds 237/349)
      rekeyColProps(spark, name, from, Some(to))
      status(s"renamed column $from to $to in $name")
    } else if (kw("MODIFY", "COLUMN")) {
      cur.ifExists()
      val defAt = cur.pos
      val c = column()
      if (kw("REMOVE")) {
        // MODIFY COLUMN c REMOVE prop (AlterTableClauseModifyRemove,
        // ClickHouseParser.py:2294-2323): the column expressions live as
        // graft.* properties — unset is metadata-only, zero jobs
        val kind = Seq("DEFAULT", "MATERIALIZED", "ALIAS", "CODEC", "COMMENT",
          "TTL").find(kw(_)).getOrElse(cur.fail(
            s"MODIFY COLUMN REMOVE expects DEFAULT|MATERIALIZED|" +
              s"ALIAS|CODEC|COMMENT|TTL, got '${cur.slice(cur.pos, cur.end)}'"))
          .toLowerCase(java.util.Locale.ROOT)
        ended()
        kind match {
          case "comment" =>
            spark.sql(s"ALTER TABLE $name ALTER COLUMN $c COMMENT ''")
          case "codec" | "ttl" => // accepted-and-ignored at CREATE too
          case "alias" =>
            Seq(s"graft.alias.$c", s"graft.aliastype.$c").foreach(k =>
              spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES " +
                s"IF EXISTS (${sqlLit(k)})"))
          case k =>
            spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES IF EXISTS (" +
              s"${sqlLit(s"graft.$k.$c")})")
        }
        status(s"removed $kind from column $c of $name (metadata only)")
      } else if (kw("CODEC")) {
        // column CODEC has no Spark twin (parquet picks its own encoding)
        // — same accepted-and-ignored contract as the CREATE TABLE path
        cur.group()
        ended()
        status(s"codec of $c accepted (parquet chooses physical encoding)")
      } else {
        // MODIFY COLUMN c Type [DEFAULT|MATERIALIZED expr] through the
        // shared column-definition grammar (AlterTableClauseModify,
        // ClickHouseParser.py:2178-2263): a type change is a cast rewrite
        // (existing rows convert); a modifier change is metadata — the
        // recorded expression swaps, existing rows keep their values and
        // only LATER omitted-column INSERTs see the new default (CH)
        val d = colDef(cur, defAt, cur.end)
        cur.pos = cur.end
        require(!d.modKind.contains("ALIAS"),
          "ChSql: MODIFY COLUMN ... ALIAS: drop and re-create the ALIAS " +
            "column instead (ALIAS columns are never stored)")
        d.chType.foreach { t =>
          val f = graft.model.ChTypes.toSparkSchema(s"$c $t").head
          if (spark.table(name).schema(c).dataType != f.dataType)
            rewriteSwap(spark, name)(
              Mutations.modifyColumnType(_, c, f.dataType))
          setNullColMembership(spark, name, c, f.nullable)
        }
        d.modExpr.foreach { ex =>
          val kind = if (d.modKind.contains("MATERIALIZED")) "materialized"
            else "default"
          val other = if (kind == "default") "materialized" else "default"
          // the two kinds are exclusive per column — setting one clears
          // the other, or a stale twin would win on the next short INSERT
          spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
            s"${sqlLit(s"graft.$kind.$c")}=${sqlLit(ex)})")
          spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES IF EXISTS (" +
            s"${sqlLit(s"graft.$other.$c")})")
        }
        status(s"modified column $c in $name" +
          d.modKind.map(k => s" (${k.toLowerCase(java.util.Locale.ROOT)} " +
            "updated)").getOrElse(""))
      }
    } else if (kw("CLEAR", "INDEX")) {
      // CLEAR INDEX IN PARTITION (AlterTableClauseClearIndex, 2665-2694):
      // our "index" IS the data clustering + parquet footer stats — there
      // is no side file to clear; MATERIALIZE INDEX rebuilds clustering
      cur.ifExists()
      val idx = cur.ident("an index name")
      if (kw("IN", "PARTITION")) partition(cur)
      ended()
      status(s"index $idx stats live in parquet footers; nothing to clear " +
        s"(MATERIALIZE INDEX $idx re-clusters)")
    } else if (kw("CLEAR", "PROJECTION")) {
      // CLEAR PROJECTION [IN PARTITION] (AlterTableClauseClearProjection,
      // 2264-2293): cleared parts need a rebuild — drop the materialized
      // table, keep the registration; substitution stops until the next
      // MATERIALIZE PROJECTION
      cur.ifExists()
      val p = cur.ident("CLEAR PROJECTION needs a name")
      if (kw("IN", "PARTITION")) partition(cur)
      ended()
      projMeta.get((name, p)) match {
        case None => status(s"no projection $p on $name")
        case Some(meta) =>
          meta.projTable.filter(spark.catalog.tableExists)
            .foreach(t => spark.sql(s"DROP TABLE $t"))
          projMeta.put((name, p), meta.copy(projTable = None, outCols = Nil))
          status(s"cleared projection $p of $name (re-MATERIALIZE to rebuild)")
      }
    } else if (kw("COMMENT", "COLUMN")) {
      // pure catalog metadata in both engines — zero-job ALTER COLUMN
      cur.ifExists()
      val c = column()
      val text = cur.str("a comment string")
      ended()
      spark.sql(s"ALTER TABLE $name ALTER COLUMN $c COMMENT ${sqlLit(text)}")
      status(s"commented column $c in $name (metadata only)")
    } else if (kw("DROP", "PARTITION")) {
      val vals = partition(cur)
      ended()
      val spec = partitionSpecSql(spark, name, vals)
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION ($spec)")
      // content changed without a rewrite: materialized projections of
      // the table would serve the dropped rows — invalidate (same
      // contract as every other partition verb; found by the r10 DDL
      // fuzz gate, projection arm)
      invalidateProjections(spark, name)
      status(s"dropped partition (${vals.mkString(", ")}) from $name")
    } else if (kw("DETACH", "PARTITION")) {
      val vals = partition(cur)
      ended()
      status(detachPartition(spark, name, vals))
    } else if (kw("ATTACH", "PARTITION")) {
      val vals = partition(cur)
      ended()
      status(attachPartition(spark, name, vals))
    } else if (kw("MOVE", "PARTITION")) {
      val vals = partition(cur)
      if (!kw("TO", "TABLE")) cur.fail("only MOVE PARTITION p TO TABLE t is " +
        "supported (TO DISK/VOLUME have no Spark twin)")
      val to = cur.name("a table name")
      ended()
      status(movePartition(spark, name, vals, to))
    } else if (kw("REPLACE", "PARTITION")) {
      val vals = partition(cur)
      if (!kw("FROM")) cur.fail("REPLACE PARTITION needs FROM <table>")
      val from = cur.name("a table name")
      ended()
      status(replacePartition(spark, name, vals, from))
    } else if (kw("FREEZE")) {
      val vals = if (kw("PARTITION")) Some(partition(cur)) else None
      ended()
      status(freezePartitions(spark, name, vals))
    } else if (kw("MODIFY", "ORDER", "BY")) {
      // the sorting key is engine metadata here (drives FINAL/OPTIMIZE
      // collapse and sorted writes) — a property update, zero jobs; CH
      // likewise only re-sorts new parts
      val (from, until) = cur.rest()
      val k = cur.sliceUnparen(from, until).trim
      require(k.nonEmpty, "ChSql: MODIFY ORDER BY needs a key")
      spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
        s"'graft.order_by'=${sqlLit(k)})")
      status(s"sorting key of $name set to ($k) (metadata; new parts honor it)")
    } else if (kw("MODIFY", "COMMENT")) {
      val text = cur.str("MODIFY COMMENT needs a string literal")
      ended()
      spark.sql(s"COMMENT ON TABLE $name IS ${sqlLit(text)}")
      status(s"comment set on $name (metadata only)")
    } else if (kw("MODIFY", "TTL")) {
      val (from, until) = cur.rest()
      val ex = cur.slice(from, until)
      require(ex.nonEmpty, "ChSql: MODIFY TTL needs an expression")
      spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
        s"'graft.ttl'=${sqlLit(ex)})")
      status(s"ttl set on $name (applied on OPTIMIZE)")
    } else if (kw("REMOVE", "TTL")) {
      ended()
      spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES IF EXISTS ('graft.ttl')")
      status(s"ttl removed from $name")
    } else if (kw("ADD", "INDEX")) {
      // type may carry CH's tuning params — tokenbf_v1(256, 2, 0),
      // bloom_filter(0.01) — which our fixed-size twin acknowledges
      // and ignores (NumBits/NumHashes are the engine's operating point)
      // ADD INDEX name column TYPE type[(params)] [GRANULARITY n]
      cur.ifNotExists()
      val idx = cur.ident("an index name")
      val c = column()
      cur.expectKw("TYPE")
      val typ = cur.ident("an index type")
      if (cur.isP("(")) cur.group()
      if (kw("GRANULARITY")) cur.num("a GRANULARITY number")
      ended()
      val typL = typ.toLowerCase(java.util.Locale.ROOT)
      BloomKinds.find(_.typ == typL) match {
        case Some(b) =>
          // bloom skip indexes (r12) prune what min/max clustering can't:
          // equality/IN on UNSORTED high-cardinality columns, hasToken
          // text search, LIKE substrings. Registration installs the
          // per-session prune rule; MATERIALIZE INDEX builds the per-file
          // sidecar.
          require(spark.table(name).columns.contains(c),
            s"ChSql: ADD INDEX: no column $c in $name")
          spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
            s"${sqlLit(b.prop + idx)}=${sqlLit(c)})")
          graft.plans.BloomSkipIndex.install(spark)
          status(s"${b.label} index $idx on $name($c) registered — " +
            s"${b.scans} scans prune files after MATERIALIZE INDEX $idx")
        case None if !Set("minmax", "set").contains(typL) =>
          // the AdminOps.system pattern: refuse honestly, don't fake it
          status(s"index type $typ has no Spark twin (parquet row-group " +
            s"min/max stats back minmax/set; bloom_filter/tokenbf_v1/" +
            s"ngrambf_v1 have sidecar twins) — not created")
        case None =>
          require(spark.table(name).columns.contains(c),
            s"ChSql: ADD INDEX: no column $c in $name")
          spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
            s"${sqlLit(s"graft.index.$idx")}=${sqlLit(c)})")
          status(s"index $idx on $name($c) registered — new writes cluster " +
            s"by it; MATERIALIZE INDEX $idx rewrites existing parts")
      }
    } else if (kw("MATERIALIZE", "INDEX")) {
      val idx = cur.ident("an index name")
      ended()
      val props = tablePropsSafe(spark, name)
      BloomKinds.flatMap(b => props.get(b.prop + idx).map(b -> _)).headOption.map {
        case (b, c) =>
          val side = b.build(spark, name, c)
          graft.plans.BloomSkipIndex.install(spark)
          status(s"materialized ${b.label} index $idx on $name($c): per-file " +
            s"sidecar $side built; ${b.scans} scans now prune")
      }.getOrElse {
        val c = props.getOrElse(s"graft.index.$idx",
          throw new IllegalArgumentException(
            s"ChSql: no index $idx on $name (ADD INDEX first)"))
        // the Spark twin of a skipping index is CLUSTERED parquet: a
        // range-repartition + in-file sort by the indexed column makes
        // row-group/file min-max stats disjoint, so a range predicate
        // skips parts — same effect as the CH granule index. The
        // partition count is explicit so AQE cannot coalesce the
        // clustering away (one merged file = one min-max range = nothing
        // to skip)
        val nParts = math.max(2, spark.sparkContext.defaultParallelism)
        rewriteSwap(spark, name)(df =>
          df.repartitionByRange(nParts, col(c)).sortWithinPartitions(col(c)))
        status(s"materialized index $idx on $name($c): data re-clustered, " +
          s"row-group stats now selective")
      }
    } else if (kw("DROP", "INDEX")) {
      cur.ifExists()
      val idx = cur.ident("an index name")
      ended()
      val props = tablePropsSafe(spark, name)
      BloomKinds.foreach(b => props.get(b.prop + idx).foreach { c =>
        val side = b.sidecar(name, c)
        if (spark.catalog.tableExists(side)) spark.sql(s"DROP TABLE $side")
        graft.plans.BloomSkipIndex.invalidate(side)
      })
      spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES IF EXISTS (" +
        ("graft.index." +: BloomKinds.map(_.prop)).map(p => sqlLit(p + idx))
          .mkString(", ") + ")")
      status(s"dropped index $idx from $name")
    } else if (kw("ADD", "PROJECTION")) {
      cur.ifNotExists()
      val p = cur.ident("a projection name")
      val (from, until) = cur.group()
      ended()
      val sel = cur.query(from, until) match {
        case ChSql.One(q) => q
        case _ => cur.fail(s"ADD PROJECTION $p needs one SELECT")
      }
      projMeta.put((name, p), ProjMeta(name, p, sel, None, Nil))
      status(s"projection $p added to $name (applies to new " +
        s"parts; MATERIALIZE PROJECTION builds it for existing data)")
    } else if (kw("MATERIALIZE", "PROJECTION")) {
      val p = cur.ident("a projection name")
      ended()
      status(materializeProjection(spark, name, p, resolve))
    } else if (kw("DROP", "PROJECTION")) {
      cur.ifExists()
      val p = cur.ident("a projection name")
      ended()
      projMeta.remove((name, p)).foreach { meta =>
        meta.projTable.filter(spark.catalog.tableExists)
          .foreach(t => spark.sql(s"DROP TABLE $t"))
      }
      status(s"dropped projection $p from $name")
    } else if (kw("CLEAR", "COLUMN")) {
      // CLEAR COLUMN c IN PARTITION p (ClickHouseParser.py:2374-2397):
      // reset the column to default/NULL in one partition — a mutation
      // pruned to exactly that partition
      cur.ifExists()
      val c = column()
      cur.expectKw("IN", "PARTITION")
      val vals = partition(cur)
      ended()
      val p = withPartitionScope(spark, name, Some(vals), lit(true))
      val props = tablePropsSafe(spark, name)
      val field = spark.table(name).schema(c)
      // CH resets a cleared column to its DEFAULT expression if declared,
      // else the type's implicit default — NULL only for Nullable columns
      val fill = props.get(s"graft.default.$c")
        .map(ex => ChSql.compileExpr(spark, ex, spark.table(_)))
        .getOrElse(
          if (colDeclaredNullable(props, c, field.nullable)) lit(null)
          else chTypeDefault(field.dataType))
      val dt = field.dataType
      val scope = mutateWhere(spark, name, p, rowsPreserved = true)(df =>
        df.withColumn(c, when(p, fill.cast(dt)).otherwise(col(c))))
      status(s"cleared column $c in partition (${vals.mkString(", ")}); $scope")
    } else cur.fail(
      s"unsupported ALTER TABLE clause: ${cur.slice(clauseAt, cur.end)}")
  }

  // ===================== partition-level operations =====================

  /** The table's partition columns, in layout order. */
  private def partitionCols(spark: SparkSession, name: String): Seq[String] =
    spark.catalog.listColumns(name).collect()
      .filter(_.isPartition).map(_.name).toSeq

  /** The partition expression at the cursor (partitionClause,
    * ClickHouseParser.py:2449 region): `'v'` | `123` | `ID 'x'` |
    * `[tuple](v1, v2, ...)`. */
  private def partition(c: Cur): Seq[String] = {
    def literal(): String = c.tok() match {
      case TStr(v) => c.pos += 1; v
      case TNum(v) => c.pos += 1; v
      case _ => c.fail(s"bad partition expression '${c.slice(c.pos, c.pos + 1)}'")
    }
    if (c.isKw("TUPLE") && c.tok(1) == TP("(")) c.pos += 1
    if (c.eatKw("ID")) Seq(c.str("PARTITION ID needs a string literal"))
    else if (!c.isP("(")) Seq(literal())
    else {
      val (from, until) = c.group()
      val after = c.pos
      val vals = c.items(from, until).map { case (a, b) =>
        c.pos = a
        val v = literal()
        if (c.pos != b) c.fail(s"bad partition value '${c.slice(a, b)}'")
        v
      }
      c.pos = after
      vals
    }
  }

  /** `c1='v1', c2='v2'` partition spec over the table's partition key. */
  private def partitionSpecSql(spark: SparkSession, name: String,
      vals: Seq[String]): String = {
    val pcols = partitionCols(spark, name)
    require(pcols.nonEmpty, s"ChSql: $name is not partitioned")
    require(vals.size == pcols.size,
      s"ChSql: partition value arity ${vals.size} != partition key " +
        s"(${pcols.mkString(", ")})")
    pcols.zip(vals).map { case (c, v) => s"$c=${sqlLit(v)}" }.mkString(", ")
  }

  /** The `<c1>=<v1>[/<c2>=<v2>]` relative directory of one partition. */
  private def partitionRelDir(spark: SparkSession, name: String,
      vals: Seq[String]): String = {
    val pcols = partitionCols(spark, name)
    require(vals.size == pcols.size,
      s"ChSql: partition value arity ${vals.size} != partition key " +
        s"(${pcols.mkString(", ")})")
    pcols.zip(vals).map { case (c, v) => s"$c=$v" }.mkString("/")
  }

  private def tableLocation(spark: SparkSession, name: String):
      org.apache.hadoop.fs.Path =
    filePaths(spark, spark.table(name)).headOption
      .map(new org.apache.hadoop.fs.Path(_))
      .getOrElse(throw new IllegalArgumentException(
        s"ChSql: $name is not a file-backed table"))

  /** Merge-move every child of `src` into `dst` (rename when `dst` is
    * absent — O(1); per-file renames when parts already live there, the
    * CH attach-into-existing-partition case). Metadata-only either way. */
  /** Structural schema equality for partition exchange verbs: column
    * names and data types, in order — NOT nullability or metadata.
    * Rewriting mutations (OPTIMIZE, ALTER UPDATE/DELETE via rewriteSwap)
    * re-register the table from a DataFrame write, which relaxes declared
    * NOT-NULL columns to nullable; the strict `schema ==` compare then
    * rejected MOVE/REPLACE between two identically-CREATEd tables merely
    * because one of them had been compacted (found by the r10 DDL fuzz
    * gate, move_replace arm). */
  private def structurallyEqual(spark: SparkSession, a: String,
      b: String): Boolean = {
    def shape(n: String) = spark.table(n).schema.map(f => (f.name, f.dataType))
    shape(a) == shape(b)
  }

  private def moveDirInto(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(dst)) {
      fs.mkdirs(dst.getParent)
      require(fs.rename(src, dst), s"ChSql: could not move $src to $dst")
    } else {
      fs.listStatus(src).foreach { st =>
        // part filenames are NOT unique across tables: REPLACE PARTITION
        // copies parts keeping their names, so moving the same partition
        // back into the copy's source collides — CH reassigns part names
        // on attach; the twin here is a disambiguating prefix (readers
        // list the directory, names are free). Found by the r10 DDL fuzz
        // gate, move_replace arm (MOVE after REPLACE of one partition).
        val plain = new org.apache.hadoop.fs.Path(dst, st.getPath.getName)
        val target = if (!fs.exists(plain)) plain
          else new org.apache.hadoop.fs.Path(dst, "att_" +
            java.util.UUID.randomUUID().toString.replace("-", "").take(12) +
            "_" + st.getPath.getName)
        require(fs.rename(st.getPath, target),
          s"ChSql: could not move ${st.getPath} into $dst")
      }
      fs.delete(src, true)
    }
  }

  /** `DETACH PARTITION p`: move the partition directory to
    * `<db>/detached/<tbl>/<spec>` (CH's literal detached-parts layout)
    * and drop the catalog entry — file renames, zero data movement. */
  private def detachPartition(spark: SparkSession, name: String,
      vals: Seq[String]): String = {
    val rel = partitionRelDir(spark, name, vals)
    val loc = tableLocation(spark, name)
    val src = new org.apache.hadoop.fs.Path(loc, rel)
    val (dbPath, tbl) = dbPathAndTable(spark, name)
    val dst = new org.apache.hadoop.fs.Path(s"$dbPath/detached/$tbl/$rel")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src),
      s"ChSql: DETACH PARTITION: no partition $rel in $name")
    if (fs.exists(dst)) fs.delete(dst, true)
    moveDirInto(fs, src, dst)
    spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (" +
      partitionSpecSql(spark, name, vals) + ")")
    spark.catalog.refreshTable(name)
    invalidateProjections(spark, name)
    s"detached partition (${vals.mkString(", ")}) from $name (kept under $dst)"
  }

  /** `ATTACH PARTITION p`: the inverse — move the detached partition back
    * and re-register the catalog entry. Attaching into a partition that
    * has live parts merges additively (CH's semantics). */
  private def attachPartition(spark: SparkSession, name: String,
      vals: Seq[String]): String = {
    val rel = partitionRelDir(spark, name, vals)
    val (dbPath, tbl) = dbPathAndTable(spark, name)
    val src = new org.apache.hadoop.fs.Path(s"$dbPath/detached/$tbl/$rel")
    val loc = tableLocation(spark, name)
    val dst = new org.apache.hadoop.fs.Path(loc, rel)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src),
      s"ChSql: no detached partition $rel for $name (expected $src)")
    moveDirInto(fs, src, dst)
    spark.sql(s"ALTER TABLE $name ADD IF NOT EXISTS PARTITION (" +
      partitionSpecSql(spark, name, vals) + ")")
    spark.catalog.refreshTable(name)
    invalidateProjections(spark, name)
    s"attached partition (${vals.mkString(", ")}) to $name"
  }

  /** `MOVE PARTITION p TO TABLE dest`: directory rename between the two
    * table locations + catalog entries on both sides — O(1) metadata, the
    * CH part-move contract. Schemas and partition keys must line up. */
  private def movePartition(spark: SparkSession, name: String,
      vals: Seq[String], dest: String): String = {
    require(spark.catalog.tableExists(dest), s"ChSql: unknown table '$dest'")
    require(partitionCols(spark, name) == partitionCols(spark, dest),
      s"ChSql: MOVE PARTITION: $name and $dest have different partition keys")
    require(structurallyEqual(spark, name, dest),
      s"ChSql: MOVE PARTITION: $name and $dest have different schemas")
    val rel = partitionRelDir(spark, name, vals)
    val src = new org.apache.hadoop.fs.Path(tableLocation(spark, name), rel)
    val dst = new org.apache.hadoop.fs.Path(tableLocation(spark, dest), rel)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(src), s"ChSql: MOVE PARTITION: no partition $rel in $name")
    moveDirInto(fs, src, dst)
    spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (" +
      partitionSpecSql(spark, name, vals) + ")")
    spark.sql(s"ALTER TABLE $dest ADD IF NOT EXISTS PARTITION (" +
      partitionSpecSql(spark, dest, vals) + ")")
    spark.catalog.refreshTable(name); spark.catalog.refreshTable(dest)
    invalidateProjections(spark, name)
    invalidateProjections(spark, dest)
    s"moved partition (${vals.mkString(", ")}) from $name to $dest"
  }

  /** `REPLACE PARTITION p FROM src`: copy src's partition files over the
    * target's (src keeps its data — CH copies parts). */
  private def replacePartition(spark: SparkSession, name: String,
      vals: Seq[String], from: String): String = {
    require(spark.catalog.tableExists(from), s"ChSql: unknown table '$from'")
    require(structurallyEqual(spark, name, from),
      s"ChSql: REPLACE PARTITION: $name and $from have different schemas")
    val rel = partitionRelDir(spark, name, vals)
    val src = new org.apache.hadoop.fs.Path(tableLocation(spark, from), rel)
    val dst = new org.apache.hadoop.fs.Path(tableLocation(spark, name), rel)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = src.getFileSystem(conf)
    require(fs.exists(src),
      s"ChSql: REPLACE PARTITION: no partition $rel in $from")
    if (fs.exists(dst)) fs.delete(dst, true)
    fs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    spark.sql(s"ALTER TABLE $name ADD IF NOT EXISTS PARTITION (" +
      partitionSpecSql(spark, name, vals) + ")")
    spark.catalog.refreshTable(name)
    invalidateProjections(spark, name)
    s"replaced partition (${vals.mkString(", ")}) in $name from $from"
  }

  /** `FREEZE [PARTITION p]`: hard-copy the partition (or whole table)
    * into `<db>/shadow/<n>/<tbl>/` — CH's incremental backup layout. */
  private def freezePartitions(spark: SparkSession, name: String,
      vals: Option[Seq[String]]): String = {
    val loc = tableLocation(spark, name)
    val (dbPath, tbl) = dbPathAndTable(spark, name)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = loc.getFileSystem(conf)
    val shadowRoot = new org.apache.hadoop.fs.Path(s"$dbPath/shadow")
    // CH numbers freeze increments; next = max existing + 1
    val n = (if (!fs.exists(shadowRoot)) Nil
      else fs.listStatus(shadowRoot).toSeq.map(_.getPath.getName)
        .flatMap(s => scala.util.Try(s.toInt).toOption))
      .foldLeft(0)(math.max) + 1
    val src = vals match {
      case Some(v) =>
        new org.apache.hadoop.fs.Path(loc, partitionRelDir(spark, name, v))
      case None => loc
    }
    require(fs.exists(src), s"ChSql: FREEZE: nothing to freeze at $src")
    val dst = new org.apache.hadoop.fs.Path(s"$dbPath/shadow/$n/$tbl" +
      vals.map(v => "/" + partitionRelDir(spark, name, v)).getOrElse(""))
    fs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    s"froze ${vals.map(v => s"partition (${v.mkString(", ")})")
      .getOrElse("table")} of $name as backup increment $n (under $dst)"
  }

  // ===================== mutations (partition-pruned) =====================

  /** The `[IN PARTITION p] WHERE pred` that ends a mutation statement,
    * as one predicate with the partition restriction ANDed in. */
  private def mutationScope(spark: SparkSession, c: Cur, name: String,
      resolve: String => DataFrame, missingWhere: String): Column = {
    c.cluster()
    val inPart = if (c.eatKw("IN", "PARTITION")) Some(partition(c)) else None
    if (!c.eatKw("WHERE")) c.fail(missingWhere)
    withPartitionScope(spark, name, inPart,
      ChSql.compileExpr(spark, c.expr(), resolve))
  }

  /** `DELETE FROM t` / `ALTER TABLE t DELETE`, read from the mutation
    * scope on: the rows go, and the scope note comes back. */
  private def deleteRows(spark: SparkSession, c: Cur, name: String,
      resolve: String => DataFrame, missingWhere: String): String = {
    val p = mutationScope(spark, c, name, resolve, missingWhere)
    mutateWhere(spark, name, p)(graft.operators.Mutations.delete(_, p))
  }

  /** `UPDATE t SET` / `ALTER TABLE t UPDATE`, read from the `a = e1, b =
    * e2` assignment list on (assignmentExprList, ClickHouseParser.py:
    * 8267+): (assigned columns, scope note). */
  private def updateRows(spark: SparkSession, c: Cur, name: String,
      resolve: String => DataFrame, missingWhere: String): (Seq[String], String) = {
    val stop = c.upTo("IN PARTITION", "WHERE", "ON CLUSTER")
    val assignments = c.items(c.pos, stop).map { case (a, b) =>
      (c.toks(a)._1, c.toks(a + 1)._1) match {
        case (col: ChSql.TId, TP("=")) if b > a + 2 =>
          col.s -> ChSql.compileExpr(spark, c.expr(a + 2, b), resolve)
        case _ => c.fail(s"malformed UPDATE assignment '${c.slice(a, b)}'")
      }
    }
    c.pos = stop
    val p = mutationScope(spark, c, name, resolve, missingWhere)
    // guard after the transform: UPDATE c = NULL on a declared
    // non-Nullable column must fail (CH parity), not store a NULL that
    // the addfill read rule would silently resurrect as the default, or
    // that makes every later readTable AssertNotNull read throw
    (assignments.map(_._1), mutateWhere(spark, name, p, rowsPreserved = true)(df =>
      guardNonNullableWrites(tablePropsSafe(spark, name),
        graft.operators.Mutations.update(df, assignments, p), name)))
  }

  /** AND an `IN PARTITION` restriction into a mutation predicate — the
    * find phase of [[mutateWhere]] then prunes to exactly that partition's
    * directory (explicit O(one part), the CH IN PARTITION contract). */
  private def withPartitionScope(spark: SparkSession, name: String,
      inPart: Option[Seq[String]], pred: Column): Column =
    inPart match {
      case None => pred
      case Some(vals) =>
        val pcols = partitionCols(spark, name)
        require(pcols.nonEmpty, s"ChSql: $name is not partitioned")
        require(vals.size == pcols.size, s"ChSql: partition value arity " +
          s"${vals.size} != partition key arity ${pcols.size}")
        pcols.zip(vals).map { case (c, v) => col(c) === lit(v) }
          .reduce(_ && _) && pred
    }

  /** Partition-pruned mutation: on a partitioned table, only the
    * partitions the WHERE can touch are rewritten and dynamically
    * overwritten in place — CH's actual O(affected parts) mutation cost;
    * untouched partition directories are never read OR written.
    * Partitions the mutation empties entirely are dropped (dynamic
    * overwrite cannot express "this partition became empty").
    * Unpartitioned tables fall back to the full rewrite-and-swap. */
  private def mutateWhere(spark: SparkSession, name: String, pred: Column,
      rowsPreserved: Boolean = false)(
      transform: DataFrame => DataFrame): String = {
    require(!tablePropsSafe(spark, name)
      .getOrElse("graft.engine", "").equalsIgnoreCase("File"),
      s"ChSql: mutations are not supported on ENGINE = File tables " +
        s"($name) — CH parity; CTAS into a MergeTree table first")
    val pcols = partitionCols(spark, name)
    if (pcols.isEmpty) {
      rewriteSwap(spark, name)(transform)
      "rewrote table"
    } else {
      // read through post-ADD column fills so predicates and transforms
      // see CH's added-column defaults, not raw parquet NULLs; markers
      // stay (the dynamic overwrite touches only affected partitions, and
      // coalesce over the materialized non-NULL values remains exact)
      val full = addFillDecorate(spark, name, spark.table(name),
        tablePropsSafe(spark, name))
      // phase 1 (find): which partitions can the predicate touch? When
      // the WHERE constrains the partition key, Catalyst prunes this scan
      // to the matching directories — the find phase is then metadata-fast
      val affected = full.filter(coalesce(pred, lit(false)))
        .select(pcols.map(col): _*).distinct().collect().toSeq
      if (affected.isEmpty) "no partitions affected"
      else {
        def key(r: org.apache.spark.sql.Row): Seq[String] =
          pcols.indices.map(i => String.valueOf(r.get(i)))
        val memberPred = affected.map(r =>
          pcols.zipWithIndex.map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)).reduce(_ || _)
        // phase 2 (rewrite): read ONLY the affected partitions (pruned
        // scan), transform row-locally, dynamic-overwrite them in place
        val result = transform(full.filter(memberPred))
        // the emptied-partition sweep needs a SECOND full compute of
        // `result` (distinct + collect before the write). Row-preserving
        // mutations (UPDATE, CLEAR COLUMN, plain-compaction OPTIMIZE)
        // cannot empty a partition — memberPred keeps whole partitions,
        // every affected partition has ≥1 row, and the transform keeps
        // every row — so the written set is exactly `affected` and the
        // sweep is skipped (r15, guide §1.2: remove the pass outright).
        val remaining =
          if (rowsPreserved) affected.map(key).toSet
          else result.select(pcols.map(col): _*)
            .distinct().collect().map(key).toSet
        val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try result.write.mode(SaveMode.Overwrite).insertInto(name)
        finally prev match {
          case Some(v) =>
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
          case None =>
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
        affected.filterNot(r => remaining.contains(key(r))).foreach { r =>
          val spec = pcols.zipWithIndex.map { case (c, i) =>
            s"$c=${sqlLit(String.valueOf(r.get(i)))}" }.mkString(", ")
          spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION ($spec)")
        }
        invalidateProjections(spark, name)
        s"rewrote ${affected.size} affected partition(s), rest untouched"
      }
    }
  }

  // ===================== projections =====================

  /** A registered projection (ADD|MATERIALIZE|DROP PROJECTION,
    * ClickHouseParser.py:2864/2498/2765; projectionSelectStmt 1288): an
    * aggregate the optimizer may substitute for a matching SELECT.
    * `projTable`/`outCols` are set by MATERIALIZE. */
  private final case class ProjMeta(table: String, name: String,
      sel: ChSql.SelectStmt, projTable: Option[String], outCols: Seq[String])
  private val projMeta =
    scala.collection.concurrent.TrieMap.empty[(String, String), ProjMeta]

  /** Any write to a table makes its materialized projections stale — CH
    * maintains projections on insert and rebuilds them on mutation; here
    * the honest equivalent is to drop the materialized copy so covered
    * SELECTs fall back to the base scan until the user re-MATERIALIZEs.
    * The ADD PROJECTION registration itself survives. */
  private def invalidateProjections(spark: SparkSession, name: String): Unit =
    projMeta.foreach { case (k, meta) =>
      if (meta.table == name && meta.projTable.nonEmpty) {
        meta.projTable.filter(spark.catalog.tableExists)
          .foreach(t => spark.sql(s"DROP TABLE $t"))
        projMeta.put(k, meta.copy(projTable = None, outCols = Nil))
      }
    }

  /** INSERT-side projection maintenance — the CH model: a new part gets
    * its projection computed FROM THE PART ALONE and merged in; the base
    * table is never rescanned. Here: run the projection SELECT over just
    * the inserted batch, then fold it into the materialized table —
    * append for plain (non-aggregating) projections; for aggregating
    * projections whose items are all group keys or count/sum/min/max,
    * re-aggregate old ∪ batch by the keys (count folds by sum). Anything
    * outside that mergeable shape falls back to dropping the
    * materialized copy (stale answers are never served; re-MATERIALIZE
    * rebuilds). Cost is O(batch) + O(projection table) — at scale the
    * projection table is the small aggregate, so insert stays cheap. */
  private def maintainProjectionsOnInsert(spark: SparkSession, name: String,
      batch: DataFrame): Unit = {
    val live = projMeta.toSeq.filter { case (_, m) =>
      m.table == name && m.projTable.nonEmpty }
    if (live.isEmpty) return
    val view = "__graft_projins_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    batch.createOrReplaceTempView(view)
    try live.foreach { case (k, meta) =>
      val projTable = meta.projTable.get
      val mergeable: Option[(Seq[String], Seq[(String, String)])] =
        Some(meta.sel).flatMap { ps =>
            val gset = ps.groupBy.map(normExpr).toSet
            def itemName(it: ChSql.SelectItem): Option[String] =
              it.alias.orElse(it.e match {
                case ChSql.Ident(Seq(nm)) => Some(nm)
                case _ => None
              })
            val classified = ps.items.map { it =>
              (itemName(it), normExpr(it.e)) match {
                case (Some(nm), e) if gset.contains(e) => Some(Left(nm))
                case (Some(nm), ChSql.FuncCall(f, Nil, _, false))
                    if Set("count", "sum", "min", "max")(f) =>
                  Some(Right(nm -> (if (f == "count") "sum" else f)))
                case _ => None
              }
            }
            val keys = classified.flatten.collect { case Left(nm) => nm }
            val aggs = classified.flatten.collect { case Right(kv) => kv }
            // every group key must be a stored item, every item classified
            // (a global aggregate — no GROUP BY — folds with zero keys)
            if (classified.exists(_.isEmpty) || keys.size != gset.size) None
            else Some((keys, aggs))
          }
      val batchProj = scala.util.Try(
        ChSql.plan(spark, over(meta.sel, view))(spark.table)).toOption
      (mergeable, batchProj) match {
        case (Some((_, aggs)), Some(bp)) if aggs.isEmpty =>
          // plain reshape projection: the batch's rows just append
          bp.select(meta.outCols.map(col): _*)
            .write.mode(SaveMode.Append).insertInto(projTable)
        case (Some((keys, aggs)), Some(bp)) =>
          val old = spark.table(projTable)
          val folded = old.unionByName(bp.select(old.columns.map(col).toSeq: _*))
            .groupBy(keys.map(col): _*)
            .agg(aggs.head match { case (nm, op) => foldAgg(old, nm, op) },
              aggs.tail.map { case (nm, op) => foldAgg(old, nm, op) }: _*)
            .select(old.columns.map(col).toSeq: _*)
          // break lineage off the table being overwritten
          folded.localCheckpoint(true)
            .write.mode(SaveMode.Overwrite).saveAsTable(projTable)
        case _ =>
          // not a mergeable shape: never serve stale — drop the copy
          if (spark.catalog.tableExists(projTable))
            spark.sql(s"DROP TABLE $projTable")
          projMeta.put(k, meta.copy(projTable = None, outCols = Nil))
      }
    } finally spark.catalog.dropTempView(view)
  }

  private def foldAgg(old: DataFrame, nm: String, op: String): Column =
    (op match {
      case "min" => min(col(nm))
      case "max" => max(col(nm))
      case _ => sum(col(nm)).cast(old.schema(nm).dataType)
    }).as(nm)

  /** Inject `FROM table` into a projection SELECT (the CH projection body
    * has no FROM — it is implicitly over the parent table). */
  private def over(sel: ChSql.SelectStmt, table: String): ChSql.SetOp =
    ChSql.One(if (sel.from.nonEmpty) sel
      else sel.copy(from = Some(ChSql.TableRef(table, None, fin = false))))

  private def materializeProjection(spark: SparkSession, name: String,
      p: String, resolve: String => DataFrame): String = {
    val meta = projMeta.getOrElse((name, p), throw new IllegalArgumentException(
      s"ChSql: no projection $p on $name (ADD PROJECTION first)"))
    val projTable = s"${name}__proj_$p"
    val df = ChSql.plan(spark, over(meta.sel, name))(resolve)
    if (!spark.catalog.tableExists(projTable)) dropStaleLocation(spark, projTable)
    df.write.mode(SaveMode.Overwrite).saveAsTable(projTable)
    projMeta.put((name, p),
      meta.copy(projTable = Some(projTable), outCols = df.columns.toSeq))
    s"materialized projection $p of $name into $projTable"
  }

  /** Projection substitution: when a SELECT's shape is covered by a
    * registered, materialized projection of its FROM table — same
    * grouping set, every (aliased) item present in the projection — the
    * statement answers from the projection's (much smaller) materialized
    * table instead of scanning the base. Conservative by construction:
    * any feature outside the covered shape falls through to the normal
    * path. Called from [[ChSql.statement]]. */
  private[chsql] def substituteProjection(spark: SparkSession,
      ast: ChSql.SetOp): Option[DataFrame] = {
    if (projMeta.isEmpty) None
    else ast match {
        case ChSql.One(q) if q.joins.isEmpty && q.ctes.isEmpty &&
            q.exprCtes.isEmpty && q.where.isEmpty && q.prewhere.isEmpty &&
            q.having.isEmpty && q.arrayJoins.isEmpty && q.limitBy.isEmpty &&
            !q.distinct && q.groupKind == "plain" && !q.withTotals &&
            !q.groupByAll && q.sample.isEmpty && q.settings.isEmpty &&
            q.windows.isEmpty && q.offset.isEmpty && q.outfile.isEmpty &&
            q.format.isEmpty && q.qualify.isEmpty && !q.limitTies &&
            q.orderBy.forall(o =>
              o.fill.isEmpty && o.collate.isEmpty) =>
          q.from match {
            case Some(ChSql.TableRef(t, _, false)) =>
              projMeta.values.toSeq.sortBy(_.name)
                .filter(m => m.table == t && m.projTable.nonEmpty)
                .flatMap(m => matchProjection(spark, q, m)).headOption
            case _ => None
          }
        case _ => None
      }
  }

  /** Case-normalize function names so `SUM(x)` matches `sum(x)`. */
  private def normExpr(e: ChSql.Expr): ChSql.Expr = e match {
    case ChSql.FuncCall(n, ps, as, d) =>
      ChSql.FuncCall(n.toLowerCase(java.util.Locale.ROOT),
        ps.map(normExpr), as.map(normExpr), d)
    case ChSql.Bin(o, l, r) => ChSql.Bin(o, normExpr(l), normExpr(r))
    case ChSql.Neg(x) => ChSql.Neg(normExpr(x))
    case ChSql.NotE(x) => ChSql.NotE(normExpr(x))
    case ChSql.CastE(x, ty) => ChSql.CastE(normExpr(x), ty)
    case ChSql.Idx(x, i) => ChSql.Idx(normExpr(x), normExpr(i))
    case other => other
  }

  private def matchProjection(spark: SparkSession, q: ChSql.SelectStmt,
      m: ProjMeta): Option[DataFrame] =
    m.sel match {
      case ps
          if q.groupBy.map(normExpr).toSet == ps.groupBy.map(normExpr).toSet =>
        val pItems: Seq[(ChSql.Expr, String)] =
          ps.items.map(it => normExpr(it.e)).zip(m.outCols)
        // every query item must carry an output name (explicit alias, or
        // a bare column ref named by itself) and be structurally present
        // in the projection; order-by items must resolve to an output
        def outName(it: ChSql.SelectItem): Option[String] =
          it.alias.orElse(it.e match {
            case ChSql.Ident(Seq(nm)) => Some(nm)
            case _ => None
          })
        val mapped: Seq[Option[(String, String)]] = q.items.map { it =>
          for {
            alias <- outName(it)
            pc <- pItems.find(_._1 == normExpr(it.e)).map(_._2)
          } yield (pc, alias)
        }
        if (mapped.exists(_.isEmpty)) None
        else {
          val sel = mapped.flatten
          val aliasOf: Map[ChSql.Expr, String] =
            q.items.flatMap(it => outName(it).map(normExpr(it.e) -> _)).toMap
          val sortCols: Seq[Option[Column]] = q.orderBy.map { oi =>
            val target = oi.e match {
              case ChSql.Ident(Seq(nm)) if sel.exists(_._2 == nm) => Some(nm)
              case other => aliasOf.get(normExpr(other))
            }
            target.map { nm =>
              // CH (and the main translator's ordCol) default to NULLS
              // LAST for ASC — mirror that exactly
              val base = if (oi.asc) col(nm).asc_nulls_last else
                col(nm).desc_nulls_last
              (oi.nullsFirst, oi.asc) match {
                case (Some(true), true) => col(nm).asc_nulls_first
                case (Some(true), false) => col(nm).desc_nulls_first
                case (Some(false), true) => col(nm).asc_nulls_last
                case (Some(false), false) => col(nm).desc_nulls_last
                case _ => base
              }
            }
          }
          if (sortCols.exists(_.isEmpty)) None
          else {
            val base = spark.table(m.projTable.get)
              .select(sel.map { case (pc, al) => col(pc).as(al) }: _*)
            val ordered =
              if (sortCols.isEmpty) base else base.orderBy(sortCols.flatten: _*)
            Some(q.limit.fold(ordered)(n => ordered.limit(n.toInt)))
          }
        }
      case _ => None
    }

  /** The mutation job: rewrite the table through `transform` into a new
    * table, then swap names — the same two phases as a CH mutation
    * (background part rewrite, then metadata commit). Engine properties
    * survive the swap. Distributed end to end; the transforms themselves
    * (filter / conditional withColumn) are row-local, no shuffle. */
  /** Re-key (rename) or scrub (drop) the column-scoped table metadata
    * after a column DDL rewrite: the declared INSERT/SHOW CREATE order in
    * `graft.columns` and the per-column expression properties
    * (`graft.{default,materialized,alias,aliastype}.<col>`). rewriteSwap
    * re-applies the pre-rewrite properties verbatim, so without this a
    * RENAME leaves the OLD name in the declared list — positional INSERT
    * then binds values to the wrong columns — and a DROP leaves a stale
    * default that would resurrect on a later re-ADD. */
  /** Columns DECLARED `Nullable(...)` at CREATE/ADD/MODIFY time, from the
    * `graft.nullcols` property. The physical schema flag is NOT the
    * declaration: rewrite mutations (saveAsTable from a DataFrame) relax
    * every field to nullable. None = prop absent (pre-prop or CTAS
    * tables) — callers fall back to the schema flag. */
  private def declaredNullCols(
      props: Map[String, String]): Option[Set[String]] =
    props.get("graft.nullcols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  private def colDeclaredNullable(props: Map[String, String],
      c: String, schemaFlag: => Boolean): Boolean =
    declaredNullCols(props).map(_.contains(c)).getOrElse(schemaFlag)

  /** CH parity: writing NULL into a declared non-Nullable column is an
    * error ("Cannot insert NULL value into a non-Nullable type"), never a
    * silent store. Physical storage here is relaxed to all-nullable
    * (rewrite mutations re-save from a DataFrame, and the post-ADD
    * read-fill relies on NULL meaning exactly "pre-ADD row"), so without
    * this guard an explicit NULL write (INSERT ... SELECT, UPDATE c =
    * NULL) would land physically and then be invisibly resurrected as the
    * column default at read time. Row-local when/raise_error over the
    * declared-Nullable list — codegen'd, no extra scan or shuffle.
    * Inactive (conservative) for pre-prop tables with no recorded list. */
  /** Output-file sizing for the engine's writes (r15, guide §6): Spark
    * plans a VALUES relation as min(rows, defaultParallelism) slices, so
    * every small INSERT wrote (and later re-read) that many ~KB parquet
    * part files — ch88's INSERT chain measured 117 write tasks for a few
    * hundred rows of data. When the optimizer's size estimate says the
    * write is tiny (≤ 8 MB), coalesce to ONE part file; anything larger
    * — or of unknown size (stats default to Long.MaxValue) — keeps its
    * incoming parallelism, so corpus-scale INSERT SELECTs are untouched
    * at any scale. coalesce() never widens, and the 8 MB bound caps how
    * much compute the single-slice write can serialize, so the guard is
    * safe by construction. */
  private def sizedWrite(df: DataFrame): DataFrame = {
    val tiny =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes <= (8L << 20)
      catch { case _: Throwable => false }
    if (tiny) df.coalesce(1) else df
  }

  private def guardNonNullableWrites(props: Map[String, String],
      df: DataFrame, table: String): DataFrame =
    declaredNullCols(props) match {
      case None => df
      case Some(nullable) =>
        val guarded = df.schema.fields.filterNot(f => nullable(f.name))
        if (guarded.isEmpty) df
        else df.select(df.schema.fields.map { f =>
          if (nullable(f.name)) col(f.name)
          else when(col(f.name).isNull, raise_error(lit(
              s"ChSql: cannot write NULL into non-Nullable column " +
                s"${f.name} of $table")).cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
        }.toSeq: _*)
    }

  /** CH's implicit per-type default — what an omitted INSERT column or a
    * CLEAR COLUMN fills with when the column has no explicit DEFAULT and
    * is not Nullable: 0 for numbers, '' for strings, epoch for dates,
    * empty for containers (Defaults in ClickHouse docs; Nullable columns
    * fill NULL instead — the caller decides which rule applies). */
  private def chTypeDefault(
      dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType => lit(0).cast(dt)
      case _: DecimalType => lit(0).cast(dt)
      case StringType => lit("")
      case BooleanType => lit(false)
      case DateType => lit(java.sql.Date.valueOf("1970-01-01"))
      case TimestampType =>
        lit(java.sql.Timestamp.from(java.time.Instant.EPOCH))
      case _: ArrayType => array().cast(dt)
      case _: MapType => map_from_arrays(array(), array()).cast(dt)
      case _ => lit(null).cast(dt) // no CH twin — honest NULL
    }
  }

  /** Add/remove a column in the declared-Nullable list (ADD COLUMN and
    * MODIFY COLUMN type changes maintain the declaration). */
  private def setNullColMembership(spark: SparkSession, name: String,
      c: String, nullable: Boolean): Unit =
    declaredNullCols(tablePropsSafe(spark, name)).foreach { cur =>
      val next = if (nullable) cur + c else cur - c
      if (next != cur)
        spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
          s"'graft.nullcols'=${sqlLit(next.toSeq.sorted.mkString(","))})")
    }

  private def rekeyColProps(spark: SparkSession, name: String,
      from: String, to: Option[String]): Unit = {
    val props = tablePropsSafe(spark, name)
    val sets = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val unsets = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq("graft.columns", "graft.nullcols").foreach { key =>
      props.get(key).foreach { cs =>
        val cur = cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (cur.contains(from))
          sets(key) = cur.flatMap(c =>
            if (c == from) to.toSeq else Seq(c)).mkString(",")
      }
    }
    Seq("default", "materialized", "alias", "aliastype", "addfill")
      .foreach { k =>
        props.get(s"graft.$k.$from").foreach { v =>
          to.foreach(n => sets(s"graft.$k.$n") = v)
          unsets += s"graft.$k.$from"
        }
      }
    if (sets.nonEmpty)
      spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" + sets.map {
        case (k, v) => s"${sqlLit(k)}=${sqlLit(v)}" }.mkString(", ") + ")")
    if (unsets.nonEmpty)
      spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES IF EXISTS (" +
        unsets.map(sqlLit).mkString(", ") + ")")
  }

  private def rewriteSwap(spark: SparkSession, name: String)(
      transform: DataFrame => DataFrame): Unit = {
    require(spark.catalog.tableExists(name),
      s"ChSql: unknown table '$name'")
    // rename-swap moves MANAGED directories; an external table's rename
    // keeps its location and the swap would mix old and new files there.
    // ATTACH re-registers managed, so external targets only arise from
    // user-created tables — refuse clearly instead of corrupting.
    require(spark.catalog.getTable(name).tableType != "EXTERNAL",
      s"ChSql: $name is EXTERNAL — mutations/OPTIMIZE need a managed " +
        s"table (CTAS it into a managed one first)")
    val props = tableProps(spark, name)
    // preserve the physical layout: partition columns pass through, so
    // downstream partition pruning is unaffected by the mutation
    val partCols = spark.catalog.listColumns(name).collect()
      .filter(_.isPartition).map(_.name).toSeq
    // unique per-invocation suffix: concurrent mutations on different
    // tables must not share a staging name; tmp lives in the SAME
    // database (ALTER ... RENAME cannot cross dbs)
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val (db, bare) = name.split("\\.").toSeq match {
      case Seq(d, t) => (s"$d.", t)
      case _ => ("", name)
    }
    val tmp = s"${db}graft_rw_${suffix}"
    val bak = s"${db}${bare}__graft_old_$suffix"
    if (!spark.catalog.tableExists(tmp)) dropStaleLocation(spark, tmp)
    // read through the post-ADD column fills: the rewrite materializes
    // them (CH computes added-column defaults on merge), so the markers
    // are dropped from the re-applied properties below
    val w = transform(addFillDecorate(spark, name, spark.table(name), props))
      .write.mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).saveAsTable(tmp)
    // rename-aside instead of drop-then-rename: a failure between the two
    // renames leaves the data recoverable under the __graft_old name
    // instead of lost
    if (partCols.isEmpty) {
      // rename-aside instead of drop-then-rename: a failure between the
      // two renames leaves the data recoverable under the __graft_old name
      spark.sql(s"ALTER TABLE $name RENAME TO $bak")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $name")
      spark.sql(s"DROP TABLE $bak")
    } else {
      // PARTITIONED tables cannot use the rename-aside: catalog partition
      // entries carry ABSOLUTE locations, so after the renames the aside
      // table's entries point INTO the new table's directory and dropping
      // it deletes the fresh data. Drop the original FIRST (its entries
      // still point at its own directory), then move the tmp in and
      // rebuild the partition entries from the moved directory.
      spark.sql(s"DROP TABLE $name")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $name")
      spark.sql(s"ALTER TABLE $name RECOVER PARTITIONS")
      spark.catalog.refreshTable(name)
    }
    // addfill markers are spent: the rewrite above materialized them
    val keep = props.filterNot(_._1.startsWith("graft.addfill."))
    if (keep.nonEmpty)
      spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
        keep.map { case (k, v) => s"${sqlLit(k)}=${sqlLit(v)}" }
          .mkString(", ") + ")")
    invalidateProjections(spark, name)
  }

  /** Root file paths behind a (file-backed) batch DataFrame — recovered
    * from the resolver's scan relation, so text statements that need a
    * path (CHECK TABLE, WATCH) work wherever tables are parquet-backed. */
  private def filePaths(spark: SparkSession, df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  /** The session catalog is in-memory but managed-table directories
    * persist in the warehouse — a table CREATEd by a previous session is
    * unknown to this catalog yet its location blocks CREATE. When the
    * catalog does not know the name, the directory is an orphan: remove
    * it so CREATE TABLE is re-runnable across sessions. */
  private def dropStaleLocation(spark: SparkSession, name: String): Unit = {
    val parts = name.split("\\.")
    val (db, tbl) =
      if (parts.length == 2) (parts(0), parts(1))
      else (spark.catalog.currentDatabase, parts(0))
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val dbPath = if (db == "default") wh else s"$wh/$db.db"
    val loc = new org.apache.hadoop.fs.Path(s"$dbPath/$tbl")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  private def tableProps(spark: SparkSession, name: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES $name").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter(_._1.startsWith("graft.")).toMap

  /** [[tableProps]] for names that may be temp views (no TBLPROPERTIES
    * surface): empty map instead of an error. */
  private[chsql] def tablePropsSafe(spark: SparkSession,
      name: String): Map[String, String] =
    try tableProps(spark, name)
    catch { case _: Exception => Map.empty }

  /** Engine-aware row-merging collapse, shared by `OPTIMIZE ... FINAL`
    * (merge-time, rows rewritten) and `FROM t FINAL` (read-time, rows
    * collapsed in the plan) — the MergeTree-family semantics the engine
    * clause declares:
    *  - ReplacingMergeTree(v): keep the max-version row per sorting key
    *    ([[graft.operators.ChOps.selectFinal]]); without a version
    *    column, the deterministic max-payload pin.
    *  - SummingMergeTree([cols]): sum the declared (or all-numeric)
    *    columns per key, drop all-zero rows.
    *  - CollapsingMergeTree(sign): ±1 cancellation per key.
    *  - MergeTree / Memory: no row-merging semantics — no-op (CH's
    *    OPTIMIZE FINAL on plain MergeTree just forces the merge).
    *  - anything else: refuse honestly, never silently no-op.
    * Every branch is a single partial-combinable aggregate — one shuffle
    * on the sorting key at any scale. */
  private[chsql] def engineCollapse(df: DataFrame,
      props: Map[String, String], name: String): DataFrame = {
    import graft.operators.ChOps
    val keys = props.get("graft.order_by").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def needKeys(): Seq[String] = {
      require(keys.nonEmpty,
        s"ChSql: FINAL on $name needs the engine's ORDER BY sorting key")
      keys
    }
    props.getOrElse("graft.engine", "MergeTree").toLowerCase(
        java.util.Locale.ROOT) match {
      case "replacingmergetree" => props.get("graft.version") match {
        case Some(v) => ChOps.selectFinal(df, needKeys(), v)
        case None => ChOps.selectFinalNoVersion(df, needKeys())
      }
      case "summingmergetree" =>
        ChOps.selectSummed(df, needKeys(),
          props.getOrElse("graft.sum_cols", "").split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq)
      case "collapsingmergetree" =>
        ChOps.selectCollapsed(df, needKeys(), props("graft.sign"))
      case "versionedcollapsingmergetree" =>
        // cancellation is per (sorting key, version): the same ±sign
        // collapse with the version column joining the grouping key —
        // distinct versions of a key all survive
        ChOps.selectCollapsed(df,
          (needKeys() :+ props("graft.version")).distinct, props("graft.sign"))
      case "aggregatingmergetree" =>
        val stems = props.collect {
          case (k, stem) if k.startsWith("graft.aggfunc.") =>
            k.stripPrefix("graft.aggfunc.") -> stem }
        val simple = props.collect {
          case (k, stem) if k.startsWith("graft.simpleagg.") =>
            k.stripPrefix("graft.simpleagg.") -> stem }
        // a CTAS-created table has no declared AggregateFunction column
        // types, so there is nothing to say WHICH merge each column
        // needs — refuse rather than collapse wrongly
        require(stems.nonEmpty || simple.nonEmpty,
          s"ChSql: FINAL on AggregatingMergeTree $name needs declared " +
            "AggregateFunction(f, ...) column types (CREATE TABLE with " +
            "an explicit column list, not CTAS)")
        ChOps.selectAggregated(df, needKeys(), stems, simple)
      case "mergetree" | "memory" => df
      case _ => throw new UnsupportedOperationException(
        s"ChSql: FINAL semantics for ENGINE = " +
          s"${props.getOrElse("graft.engine", "MergeTree")} are not implemented " +
          "(supported: MergeTree (no-op), ReplacingMergeTree, " +
          "SummingMergeTree, CollapsingMergeTree, " +
          "VersionedCollapsingMergeTree, AggregatingMergeTree)")
    }
  }

  /** Read-time `FROM t FINAL` for catalog tables: apply the recorded
    * engine's collapse; non-catalog names (temp views, resolver-provided
    * frames) fall through unchanged — their FINAL rides the
    * graft_final_keys SETTINGS path instead. */
  private[chsql] def finalCollapse(spark: SparkSession, name: String,
      df: DataFrame): DataFrame =
    if (!spark.catalog.tableExists(name)) df
    else {
      val props = tablePropsSafe(spark, name)
      if (props.contains("graft.engine")) engineCollapse(df, props, name)
      else df
    }

  /** The table's recorded `SAMPLE BY` column (sampleByClause,
    * ClickHouseParser.py:6063-6112), if any — lets `SAMPLE k/m` reads
    * resolve their bucketing key from DDL instead of a per-query
    * SETTINGS override. */
  private[chsql] def sampleKey(spark: SparkSession, name: String): Option[String] =
    if (!spark.catalog.tableExists(name)) None
    else tablePropsSafe(spark, name).get("graft.sample_by")

  // ===================== OPTIMIZE =====================

  /** Part-merge compaction; FINAL adds the ReplacingMergeTree collapse
    * using the engine keys recorded by CREATE TABLE. The rewrite coalesces
    * to a bounded file count — at 100 TB this is the standard maintenance
    * job that keeps scan-side file-open overhead sane. */
  private def optimizeTable(spark: SparkSession, name: String,
      partVals: Option[Seq[String]], fin: Boolean, dedup: Boolean,
      status: String => DataFrame): DataFrame = {
    val props = tableProps(spark, name)
    require(!props.getOrElse("graft.engine", "").equalsIgnoreCase("File"),
      s"ChSql: OPTIMIZE is not supported on ENGINE = File tables ($name)")
    // TTL applies on merges in CH; here the merge is OPTIMIZE. Run it
    // FIRST so expired data is dropped by metadata, never rewritten.
    // A partition-scoped OPTIMIZE merges only that partition — TTL too.
    val ttlNote =
      if (partVals.isEmpty) applyTtlNow(spark, name, props) else None
    val targetFiles = math.max(1, spark.sparkContext.defaultParallelism / 4)
    def transform(df0: DataFrame): DataFrame = {
      val df1 = if (dedup) df0.dropDuplicates() else df0
      val df2 = if (!fin) df1 else engineCollapse(df1, props, name)
      df2.coalesce(targetFiles)
    }
    val scopeNote = partVals match {
      case Some(vals) =>
        // OPTIMIZE ... PARTITION p (optimizeStmt, ClickHouseParser.py:
        // 8366-8462): merge exactly one partition — the pruned-mutation
        // path reads and dynamically overwrites only its directory,
        // CH's per-partition merge cost
        val scope = mutateWhere(spark, name,
          withPartitionScope(spark, name, Some(vals), lit(true)),
          rowsPreserved = !fin && !dedup)(transform)
        s" partition (${vals.mkString(", ")}) — $scope"
      case None =>
        rewriteSwap(spark, name)(transform)
        ""
    }
    // CH re-materializes skip indexes when parts merge; the twin
    // rebuilds every registered bloom sidecar over the merged files
    // (the compaction replaced every file name, so a stale sidecar
    // would stop pruning — still sound via keep-on-unknown, but an
    // OPTIMIZE that silently disabled the index would surprise)
    val freshProps = tablePropsSafe(spark, name)
    val rebuilt =
      graft.plans.BloomSkipIndex.indexedColumns(freshProps).values.map(c =>
        graft.plans.BloomSkipIndex.materialize(spark, name, c)) ++
      graft.plans.BloomSkipIndex.tokenIndexedColumns(freshProps).values.map(c =>
        graft.plans.BloomSkipIndex.materializeTokens(spark, name, c)) ++
      graft.plans.BloomSkipIndex.ngramIndexedColumns(freshProps).values.map(c =>
        graft.plans.BloomSkipIndex.materializeNgrams(spark, name, c))
    val idxNote =
      if (rebuilt.isEmpty) "" else s"; ${rebuilt.size} bloom index(es) rebuilt"
    status(s"optimized $name" + (if (fin) " final" else "") +
      (if (dedup) " deduplicate" else "") + scopeNote +
      ttlNote.fold("")("; " + _) + idxNote)
  }

  /** Apply the table's recorded TTL (`graft.ttl`), if any:
    *  - `col + INTERVAL n unit` where `col` IS the partition key →
    *    expired partitions drop by metadata (directory delete — CH's
    *    O(parts) retention, zero data read);
    *  - any other expression → a partition-pruned delete mutation with
    *    predicate `ttlExpr <= now()` (rows expire, CH's row TTL). */
  private def applyTtlNow(spark: SparkSession, name: String,
      props: Map[String, String]): Option[String] =
    props.get("graft.ttl").map { ttlText =>
      val pcols = partitionCols(spark, name)
      new Cur(ttlText).expr() match {
        case ChSql.Bin("+", ChSql.Ident(Seq(c)), ChSql.IntervalE(ChSql.NumLit(nStr), unit))
            if pcols == Seq(c) && nStr.forall(_.isDigit) =>
          // partition values are the directory strings; a date-typed key
          // compares correctly as its ISO string
          val cutoff = spark.sql(
            s"SELECT CAST(CAST(now() - INTERVAL $nStr $unit AS DATE) AS STRING)")
            .collect()(0).getString(0)
          val parts = spark.sql(s"SHOW PARTITIONS $name").collect()
            .map(_.getString(0)).toSeq
          val victims = parts.map(_.stripPrefix(s"$c=")).filter(_ < cutoff)
          victims.foreach(v => spark.sql(
            s"ALTER TABLE $name DROP IF EXISTS PARTITION ($c=${sqlLit(v)})"))
          s"ttl dropped ${victims.size} expired partition(s)"
        case _ =>
          val p = ChSql.compileExpr(spark, s"($ttlText) <= now()", spark.table(_))
          val scope = mutateWhere(spark, name, p)(
            graft.operators.Mutations.delete(_, p))
          s"ttl expired rows deleted ($scope)"
      }
    }

  // ===================== SHOW CREATE =====================

  /** Reconstruct a re-runnable CREATE TABLE statement: declared column
    * order (not the catalog's partition-cols-last order), per-column
    * DEFAULT/MATERIALIZED modifiers, ALIAS columns, engine + sorting key,
    * PARTITION BY and TTL — everything the DDL layer records. */
  private[chsql] def showCreate(spark: SparkSession, name: String,
      resolve: String => DataFrame): String = {
    memTables.get(name).foreach { mt =>
      val cols = mt.schema.fields.map(f =>
        s"  ${f.name} ${graft.model.ChTypes.toCh(f.dataType, f.nullable)}")
        .mkString(",\n")
      return s"CREATE ${if (mt.temporary) "TEMPORARY " else ""}TABLE $name" +
        s"\n(\n$cols\n)\nENGINE = Memory"
    }
    val inCatalog = spark.catalog.tableExists(name)
    val (schema, props) =
      if (inCatalog) (spark.table(name).schema, tablePropsSafe(spark, name))
      else (resolve(name).schema, Map.empty[String, String])
    val pcols = if (inCatalog)
      try partitionCols(spark, name) catch { case _: Exception => Nil }
      else Nil
    val declared0 = props.get("graft.columns")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    val ordered = (declared0.filter(schema.fieldNames.contains) ++
      schema.fieldNames.filterNot(declared0.contains)).map(schema(_))
    def modifier(c: String): String =
      props.get(s"graft.default.$c").map(e => s" DEFAULT $e")
        .orElse(props.get(s"graft.materialized.$c").map(e => s" MATERIALIZED $e"))
        .getOrElse("")
    val aliasCols = props.keys.filter(_.startsWith("graft.alias."))
      .map(_.stripPrefix("graft.alias.")).toSeq.sorted
    // render the DECLARED nullability where tracked: rewrite mutations
    // relax the physical flag, and SHOW CREATE must not start printing
    // Nullable(...) for a column the user declared plain
    val cols = (ordered.map(f =>
      s"  ${f.name} ${props.getOrElse(s"graft.aggtype.${f.name}",
        graft.model.ChTypes.toCh(f.dataType,
          colDeclaredNullable(props, f.name, f.nullable)))}${
        modifier(f.name)}") ++
      aliasCols.map(c => s"  $c ${props.getOrElse(s"graft.aliastype.$c",
        "String")} ALIAS ${props(s"graft.alias.$c")}")).mkString(",\n")
    val engine = props.getOrElse("graft.engine", "MergeTree")
    val engineArgs =
      if (engine.equalsIgnoreCase("VersionedCollapsingMergeTree"))
        s"(${props("graft.sign")}, ${props("graft.version")})"
      else if (engine.equalsIgnoreCase("File"))
        s"(${props.getOrElse("graft.file_format", "Parquet")})"
      else props.get("graft.version").map(v => s"($v)")
        .orElse(props.get("graft.sign").map(s => s"($s)"))
        .orElse(props.get("graft.sum_cols").filter(_.nonEmpty).map(s => s"($s)"))
        .getOrElse("")
    val orderBy = props.get("graft.order_by").map(k => s"\nORDER BY ($k)").getOrElse("")
    val partBy = if (pcols.isEmpty) "" else s"\nPARTITION BY (${pcols.mkString(", ")})"
    val primaryKey = props.get("graft.primary_key")
      .map(k => s"\nPRIMARY KEY ($k)").getOrElse("")
    val sampleBy = props.get("graft.sample_by")
      .map(k => s"\nSAMPLE BY $k").getOrElse("")
    val ttl = props.get("graft.ttl").map(t => s"\nTTL $t").getOrElse("")
    val settings = {
      val kvs = props.keys.filter(_.startsWith("graft.setting."))
        .toSeq.sorted.map(k =>
          s"${k.stripPrefix("graft.setting.")} = ${props(k)}")
      if (kvs.isEmpty) "" else s"\nSETTINGS ${kvs.mkString(", ")}"
    }
    val uuid = props.get("graft.uuid").map(u => s" UUID '$u'").getOrElse("")
    s"CREATE TABLE $name$uuid\n(\n$cols\n)\nENGINE = $engine$engineArgs$orderBy" +
      s"$primaryKey$partBy$sampleBy$ttl$settings"
  }

  // ===================== ATTACH / DETACH =====================

  /** DETACHed dictionaries keep their definition here until re-ATTACHed
    * (dictionaries are session objects — no files to move). */
  private val detachedDicts = scala.collection.concurrent.TrieMap
    .empty[String, graft.sources.Dictionaries.DictDef]

  /** (db path, table name) for a possibly-qualified identifier, matching
    * the warehouse layout the managed DDL tables use. */
  private def dbPathAndTable(spark: SparkSession, name: String): (String, String) = {
    val parts = name.split("\\.")
    val (db, tbl) =
      if (parts.length == 2) (parts(0), parts(1))
      else (spark.catalog.currentDatabase, parts(0))
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    (if (db == "default") wh else s"$wh/$db.db", tbl)
  }

  /** `DETACH TABLE t`: move the data directory to `<db>/detached/<t>`
    * (CH's literal detached-parts model) and drop the catalog entry. The
    * graft table properties ride along in an underscore-prefixed metadata
    * file — parquet readers ignore `_*` files, so the directory stays a
    * valid table payload. DETACH VIEW/DICTIONARY are catalog/registry
    * moves with nothing on disk. */
  private def detach(spark: SparkSession, kind: String, ifExists: Boolean,
      name: String, status: String => DataFrame): DataFrame = kind match {
    case "DICTIONARY" =>
      graft.sources.Dictionaries.get(name) match {
        case Some(d) =>
          detachedDicts.put(name, d)
          graft.sources.Dictionaries.drop(name)
          status(s"detached dictionary $name")
        case None if ifExists => status(s"dictionary $name does not exist")
        case None => throw new IllegalArgumentException(
          s"ChSql: DICTIONARY $name does not exist")
      }
    case "VIEW" =>
      if (!spark.catalog.tableExists(name) && ifExists)
        status(s"view $name does not exist")
      else { spark.sql(s"DROP VIEW $name"); status(s"detached view $name") }
    case _ =>
      if (!spark.catalog.tableExists(name)) {
        if (ifExists) return status(s"table $name does not exist")
        throw new IllegalArgumentException(s"ChSql: TABLE $name does not exist")
      }
      val props = tableProps(spark, name)
      val (dbPath, tbl) = dbPathAndTable(spark, name)
      val loc = filePaths(spark, spark.table(name)).headOption
        .map(new org.apache.hadoop.fs.Path(_))
        .getOrElse(throw new IllegalArgumentException(
          s"ChSql: DETACH TABLE $name: not a file-backed table"))
      val dst = new org.apache.hadoop.fs.Path(s"$dbPath/detached/$tbl")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dst)) fs.delete(dst, true)
      fs.mkdirs(dst.getParent)
      require(fs.rename(loc, dst),
        s"ChSql: DETACH TABLE $name: could not move $loc aside")
      val out = fs.create(new org.apache.hadoop.fs.Path(dst, "_graft_props"))
      try out.write(props.map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes("UTF-8"))
      finally out.close()
      // the data directory is gone, so the managed-table drop removes
      // only the catalog entry
      spark.sql(s"DROP TABLE $name")
      status(s"detached table $name (data kept under $dst)")
  }

  /** `ATTACH TABLE t`: the inverse — re-register the table as MANAGED
    * from the detached payload's own schema, then move the files back
    * into the managed location (file renames only, no data rewrite).
    * Managed matters: the rename-swap in [[rewriteSwap]] and TRUNCATE
    * both move managed directories; an external re-register at the
    * managed location would leave stale files behind the next mutation.
    * Works across sessions: the detached directory, not session memory,
    * is the source of truth. */
  private def attach(spark: SparkSession, kind: String, ifNot: Boolean,
      name: String, status: String => DataFrame): DataFrame = kind match {
    case "DICTIONARY" =>
      detachedDicts.remove(name) match {
        case Some(d) =>
          graft.sources.Dictionaries.register(d)
          status(s"attached dictionary $name")
        case None if ifNot && graft.sources.Dictionaries.exists(name) =>
          status(s"dictionary $name already attached")
        case None => throw new IllegalArgumentException(
          s"ChSql: no detached dictionary $name")
      }
    case _ =>
      if (spark.catalog.tableExists(name)) {
        if (ifNot) return status(s"table $name already exists")
        throw new IllegalArgumentException(s"ChSql: TABLE $name already exists")
      }
      val (dbPath, tbl) = dbPathAndTable(spark, name)
      val src = new org.apache.hadoop.fs.Path(s"$dbPath/detached/$tbl")
      val dst = new org.apache.hadoop.fs.Path(s"$dbPath/$tbl")
      val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(src),
        s"ChSql: no detached data for $name (expected $src)")
      val propsFile = new org.apache.hadoop.fs.Path(src, "_graft_props")
      val props: Map[String, String] =
        if (!fs.exists(propsFile)) Map.empty
        else {
          val in = fs.open(propsFile)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          fs.delete(propsFile, false)
          text.split("\n").filter(_.contains("="))
            .map { ln => val Array(k, v) = ln.split("=", 2); k -> v }.toMap
        }
      // schema from the payload itself; partition columns from the
      // directory layout (the `c=v` chain is the truth)
      val schema = spark.read.parquet(src.toString).schema
      def partChain(p: org.apache.hadoop.fs.Path): Seq[String] = {
        val sub = fs.listStatus(p).filter(_.isDirectory)
          .map(_.getPath).find(_.getName.contains("="))
        sub match {
          case Some(d) => d.getName.split("=", 2)(0) +: partChain(d)
          case None => Nil
        }
      }
      val pcols = partChain(src)
      if (fs.exists(dst)) fs.delete(dst, true) // orphan from a stale create
      val partSql = if (pcols.isEmpty) ""
        else pcols.mkString(" PARTITIONED BY (", ", ", ")")
      val propsSql =
        if (props.isEmpty) ""
        else props.map { case (k, v) => s"${sqlLit(k)}=${sqlLit(v)}" }
          .mkString(" TBLPROPERTIES (", ", ", ")")
      spark.sql(s"CREATE TABLE $name (${schema.toDDL}) " +
        s"USING parquet$partSql$propsSql")
      // move the payload into the (managed) location the catalog chose
      fs.mkdirs(dst)
      fs.listStatus(src).foreach { st =>
        require(fs.rename(st.getPath,
          new org.apache.hadoop.fs.Path(dst, st.getPath.getName)),
          s"ChSql: ATTACH TABLE $name: could not restore ${st.getPath}")
      }
      fs.delete(src, true)
      if (pcols.nonEmpty) spark.sql(s"ALTER TABLE $name RECOVER PARTITIONS")
      spark.catalog.refreshTable(name)
      status(s"attached table $name")
  }

  // ===================== SHOW family helpers =====================

  /** The optional `[NOT] LIKE|ILIKE 'p'` tail that ends the SHOW list
    * forms, applied to the `colName` column of `df` (Spark's like/ilike
    * use the same `%`/`_` wildcards as CH). */
  private def likeTail(c: Cur, df: DataFrame, colName: String): DataFrame = {
    val negate = c.eatKw("NOT")
    val kw = Seq("LIKE", "ILIKE").find(c.eatKw(_))
    if (negate && kw.isEmpty) c.fail("SHOW ... NOT needs LIKE or ILIKE")
    val filtered = kw.map { k =>
      val pat = c.str("a LIKE pattern string")
      val m = if (k == "ILIKE") col(colName).ilike(pat) else col(colName).like(pat)
      df.filter(if (negate) !m else m)
    }
    c.done()
    filtered.getOrElse(df)
  }

  /** `SHOW COLUMNS FROM t` (showStmt COLUMNS, ClickHouseParser.py:
    * 12122-12203): CH's MySQL-compatible column frame — field / type /
    * null / key / default / extra. `key` marks sorting-key membership for
    * tables created through the DDL layer (CH reports PRI there too). */
  private def showColumns(spark: SparkSession, name: String,
      resolve: String => DataFrame): DataFrame = {
    import spark.implicits._
    val (schema, props) =
      if (spark.catalog.tableExists(name))
        (spark.table(name).schema, tableProps(spark, name))
      else (resolve(name).schema, Map.empty[String, String])
    val keyCols = props.get("graft.order_by")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val rows = schema.fields.toSeq.map { f =>
      (f.name, graft.model.ChTypes.toCh(f.dataType, f.nullable),
        if (f.nullable) "YES" else "NO",
        if (keyCols.contains(f.name)) "PRI" else "",
        null: String, "")
    }
    rows.toDF("field", "type", "null", "key", "default", "extra")
  }

  /** `SHOW INDEX FROM t` (showStmt INDEX, 12344-12393): the one index a
    * MergeTree-shaped table has here is its sorting key — CH reports it
    * as the composite `PRIMARY` key, one row per component. Data-skipping
    * indexes have no explicit twin: parquet min/max column stats play
    * that role implicitly at scan time. */
  private def showIndex(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val props: Map[String, String] =
      if (spark.catalog.tableExists(name)) tableProps(spark, name)
      else Map.empty
    val keys: Seq[String] = props.get("graft.order_by")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val primary = keys.zipWithIndex.map { case (c, i) =>
      (name, 1, "PRIMARY", i + 1, c, "A")
    }
    // data-skipping bloom/token-bloom indexes (r12) are real secondary
    // indexes here
    val blooms = (graft.plans.BloomSkipIndex.indexedColumns(props) ++
        graft.plans.BloomSkipIndex.tokenIndexedColumns(props) ++
        graft.plans.BloomSkipIndex.ngramIndexedColumns(props)).toSeq
      .sortBy(_._1).map { case (idx, c) => (name, 1, idx, 1, c, "A") }
    (primary ++ blooms).toDF("table", "non_unique", "key_name",
      "seq_in_index", "column_name", "collation")
  }

  /** `SHOW CREATE USER|ROLE|ROW POLICY|QUOTA|SETTINGS PROFILE name`
    * (12011-12043, 12885-12917, ...): single-user model — the implicit
    * `default` user/profile/quota exist; roles and row policies have no
    * members, so asking for one is an error, same as CH for an unknown
    * entity. */
  private def showCreateAccess(kind: String, name: String): String =
    kind match {
      case "USER" | "QUOTA" | "SETTINGS PROFILE" =>
        require(name.equalsIgnoreCase("default"),
          s"ChSql: there is no ${kind.toLowerCase(java.util.Locale.ROOT)} " +
            s"named $name (single-user engine: only 'default')")
        s"CREATE $kind default"
      case _ =>
        throw new IllegalArgumentException(
          s"ChSql: there is no ${kind.toLowerCase(java.util.Locale.ROOT)} " +
            s"named $name (single-user engine defines none)")
    }

  /** A Spark-SQL single-quoted string literal with `\` and `'` escaped —
    * used wherever table properties / identifiers are interpolated into
    * `spark.sql` text (TBLPROPERTIES, partition specs, comments). */
  private def sqlLit(v: String): String =
    "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
}
