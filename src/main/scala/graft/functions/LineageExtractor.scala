package graft.functions

import scala.collection.mutable
import graft.chsql.ChSql
import graft.model.LineageParseException

/** Best-effort table-reference extractor for ClickHouse CREATE VIEW /
  * MATERIALIZED VIEW DDL.
  *
  * Behavioral parity target: the reference's `parse_view_tables` +
  * `TableNameCollector` (ch_view_dependencies.py:105-258). The reference is
  * explicitly heuristic (docstring at ch_view_dependencies.py:109-123), so
  * parity is defined by observable behavior on the DDL corpus (FIXTURES.md §4):
  *
  *  - table refs are collected after FROM / JOIN (ch_view_dependencies.py:205-211
  *    regex + tableIdentifier contexts);
  *  - candidates containing parens (table functions like `s3(...)`) are
  *    dropped (ch_view_dependencies.py:219-220);
  *  - CTE names declared `name AS (` in a WITH clause are dropped, matched
  *    UNQUALIFIED (ch_view_dependencies.py:132-141, 226-228) — so a qualified
  *    ref whose table part collides with a CTE name is also dropped (quirk
  *    preserved). DELIBERATE DIVERGENCE: the reference's CTE regex runs on
  *    whitespace-free `getText`, so the FIRST CTE of each WITH clause is
  *    captured as `WITHcte` and never excluded — `WITH flags AS (...)
  *    SELECT ... FROM flags` yields a spurious `db.flags` edge there. We
  *    exclude ALL declared CTEs (the saner behavior; pinned by
  *    LineageExtractorSpec "divergence: first CTE of a WITH clause");
  *  - DELIBERATE DIVERGENCE: a comma-joined table AFTER an ON clause
  *    (`FROM a JOIN b ON a.x = b.x, c`) IS collected here — comma = cross
  *    join, so `c` is a real dependency — whereas the reference's regex
  *    stops at the ON expression and misses `c` (pinned by
  *    LineageExtractorSpec "divergence: comma join after ON");
  *  - unqualified refs are qualified with the view's own database
  *    (ch_view_dependencies.py:86-98, call site 354);
  *  - `ARRAY JOIN col` does NOT contribute a table ref (the reference's
  *    arrayJoinClause has no tableIdentifier and its whitespace-free text
  *    defeats the fallback regex);
  *  - `EXTRACT(x FROM col)` / `SUBSTRING(s FROM i)` / `TRIM(... FROM s)` do
  *    NOT contribute (ColumnExpr contexts are not table contexts);
  *  - output is sorted + distinct (ch_view_dependencies.py:258);
  *  - an unprocessable DDL raises (ch_view_dependencies.py:253-254); callers
  *    that need the keep-going contract use [[extract]] which traps the error
  *    per-row (ch_view_dependencies.py:356-358).
  *
  * Both tiers read the tokens of graft's one SQL lexer,
  * [[graft.chsql.ChSql.lexPos]] (string-, quote- and comment-aware, the
  * same tokens the statement front end parses): [[tables]] scans them
  * linearly, [[tablesExact]] parses them. Pure Scala over the DDL text,
  * trivially parallel per row as a Spark UDF.
  */
object LineageExtractor {
  import ChSql.{TId, TP, Tok}

  /** SQL keywords that terminate an alias position / FROM list. */
  private val stopWords: Set[String] = Set(
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "SETTINGS", "UNION",
    "JOIN", "ON", "USING", "PREWHERE", "SAMPLE", "ARRAY", "LEFT", "RIGHT",
    "INNER", "FULL", "CROSS", "OUTER", "SEMI", "ANTI", "ASOF", "ANY", "ALL",
    "GLOBAL", "WINDOW", "FORMAT", "INTO", "WITH", "SELECT", "FROM", "FINAL",
    "AS", "INTERSECT", "EXCEPT")

  /** Keywords that close the FROM clause at its own depth. */
  private val fromEnders: Set[String] = Set("WHERE", "GROUP", "ORDER", "LIMIT",
    "HAVING", "SETTINGS", "UNION", "INTERSECT", "EXCEPT", "SELECT", "WINDOW",
    "PREWHERE", "FORMAT", "INTO", "ARRAY")

  /** Functions whose `FROM` is an argument separator, never a table
    * context (ColumnExpr contexts in the reference grammar,
    * ClickHouseParser.py:14873-15007, 15251-15283). */
  private val scalarFromFns: Set[String] = Set("EXTRACT", "SUBSTRING", "TRIM")

  /** The DDL's tokens. Blank text and a lexer refusal raise the
    * reference's parse failure, with the texts the lineage errors have
    * always carried (`Unterminated string literal`, `Unterminated quoted
    * identifier`). */
  private def lex(ddl: String): Vector[(Tok, Int, Int)] = {
    if (ddl == null || ddl.trim.isEmpty)
      throw new LineageParseException(
        "Could not find a suitable entry rule on ClickHouseParser for this grammar.")
    try ChSql.lexPos(ddl)
    catch { case e: IllegalArgumentException =>
      val msg = e.getMessage.stripPrefix("ChSql: ")
      throw new LineageParseException(
        if (msg.endsWith("identifier")) "Unterminated quoted identifier" else msg.capitalize)
    }
  }

  /** Extract referenced tables from a CREATE VIEW/MV DDL (or bare SELECT),
    * normalized and sorted. Throws [[LineageParseException]] on blank input
    * (parity with the reference's entry-rule failure contract) and on text
    * the lexer refuses. */
  def tables(ddl: String, defaultDb: Option[String]): Seq[String] =
    scan(ddl, lex(ddl), defaultDb)

  /** The heuristic over `ddl`'s tokens `lexed`. A name's raw text is its
    * source slice, quotes included, as [[Names.normalize]] expects. */
  private def scan(ddl: String, lexed: Vector[(Tok, Int, Int)],
      defaultDb: Option[String]): Seq[String] = {
    val n = lexed.length - 1 // the TEnd token
    def tok(k: Int): Tok = lexed(math.min(k, n))._1
    def text(k: Int): String = ddl.substring(lexed(k)._2, lexed(k)._3)
    def isP(k: Int, p: String): Boolean = tok(k) match {
      case TP(s) => s == p
      case _ => false
    }
    def kw(k: Int, w: String): Boolean = tok(k) match {
      case t: TId => t.up == w
      case _ => false
    }
    def isId(k: Int): Boolean = tok(k).isInstanceOf[TId]
    /** A name that is not a clause keyword. */
    def isName(k: Int): Boolean = tok(k) match {
      case t: TId => !stopWords.contains(t.up)
      case _ => false
    }

    // --- pass 1: CTE name capture (ch_view_dependencies.py:132-141) ---
    // Active from a WITH keyword until a SELECT/FROM at the same paren depth;
    // inside, `ident AS (` marks a CTE name.
    val cteNames = mutable.Set[String]()
    var depth = 0
    var withActive = false
    var withDepth = 0
    for (k <- 0 until n) tok(k) match {
      case TP("(") => depth += 1
      case TP(")") => depth -= 1
      case t: TId if t.up == "WITH" => withActive = true; withDepth = depth
      case t: TId if withActive && depth == withDepth &&
          (t.up == "SELECT" || t.up == "FROM") => withActive = false
      case _: TId if withActive && kw(k + 1, "AS") && isP(k + 2, "(") =>
        cteNames += Names.clean(text(k))
      case _ =>
    }

    // --- pass 2: table refs after FROM / JOIN ---
    val found = mutable.Set[String]()
    // One entry per open `(`: whether it opens EXTRACT/SUBSTRING/TRIM's
    // arguments, whose FROM is no table context.
    val scalarParens = mutable.Stack[Boolean]()

    /** Parse a qualified name starting at index j; returns (rawName, next). */
    def qualifiedName(j0: Int): (String, Int) = {
      val sb = new StringBuilder(text(j0))
      var j = j0 + 1
      while (isP(j, ".") && isId(j + 1)) {
        sb.append('.').append(text(j + 1))
        j += 2
      }
      (sb.toString, j)
    }

    def addCandidate(raw: String): Unit = {
      // paren-bearing candidates (table functions) excluded upstream; here
      // normalize + unqualified-CTE filter (ch_view_dependencies.py:213-230).
      val norm = Names.normalize(raw, defaultDb)
      val (_, tbl) = Names.splitQualified(norm)
      if (!cteNames.contains(tbl)) found += norm
    }

    /** Parse one table ref at j (must be a name). Returns index after the
      * ref + its alias. Adds the candidate unless it is a table function. */
    def tableRef(j0: Int): Int = {
      val (raw, jAfter) = qualifiedName(j0)
      var j = jAfter
      if (isP(j, "(")) {
        // table function like s3('...') — excluded (paren rule); the linear
        // scan keeps going inside the parens naturally.
        j
      } else {
        addCandidate(raw)
        // skip FINAL / AS alias / bare alias
        var continue = true
        while (continue && j < n) {
          if (kw(j, "FINAL")) j += 1
          else if (kw(j, "AS") && isId(j + 1)) j += 2
          else if (isName(j)) j += 1
          else continue = false
        }
        j
      }
    }

    // Depths at which a FROM clause's join-expression list is still open:
    // a `,` seen at such a depth continues the comma-join list
    // (JoinExprCrossOp, ClickHouseParser.py:10407-10429) even after an
    // ON condition — `FROM a JOIN b ON x = 1, c` references c.
    val fromDepths = mutable.Stack[Int]()
    def fromOpen: Boolean = fromDepths.nonEmpty && fromDepths.top == depth
    depth = 0
    for (i <- 0 until n) tok(i) match {
      case TP("(") =>
        scalarParens.push(i > 0 && (tok(i - 1) match {
          case t: TId => scalarFromFns.contains(t.up)
          case _ => false
        }))
        depth += 1
      case TP(")") =>
        if (scalarParens.nonEmpty) scalarParens.pop()
        depth -= 1
        while (fromDepths.nonEmpty && fromDepths.top > depth) fromDepths.pop()
      case t: TId if t.up == "FROM" && !(scalarParens.nonEmpty && scalarParens.top) =>
        if (!fromDepths.contains(depth)) fromDepths.push(depth)
        // FROM <ref> [, <ref>]*  — comma list = cross join
        // (ClickHouseParser.py:10855-10934)
        var j = i + 1
        var more = true
        while (more && isName(j)) {
          j = tableRef(j)
          if (isP(j, ",")) j += 1 else more = false
        } // else a subquery `(` or clause keyword
      case t: TId if t.up == "JOIN" && !(i > 0 && kw(i - 1, "ARRAY")) =>
        if (isName(i + 1)) tableRef(i + 1)
      case TP(",") if fromOpen =>
        if (isName(i + 1)) tableRef(i + 1)
      case t: TId if fromOpen && fromEnders.contains(t.up) =>
        fromDepths.pop()
      case _ =>
    }

    found.toSeq.sorted
  }

  /** Keep-going wrapper: lineage + per-row error channel
    * (parity: `_views_to_json`, ch_view_dependencies.py:346-361). */
  def extract(ddl: String, defaultDb: Option[String]): (Seq[String], Option[String]) =
    try (tables(ddl, defaultDb), None)
    catch { case e: Exception => (Seq.empty, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }

  /** AST-EXACT tier: parse the view body with the repo's real CH SELECT
    * parser ([[graft.chsql.ChSql.referencedTables]]) and walk the
    * relation/subquery tree — exceeds the reference where its own
    * docstring admits best-effort (ch_view_dependencies.py:109-123):
    * qualified refs that collide with a CTE name are kept (qualified refs
    * bypass CTEs in CH), and nothing outside a genuine table context can
    * leak in. The DDL is lexed once: its head and body are read from the
    * same tokens, and the [[tables]] heuristic scans them when the DDL
    * does not parse (the heuristic's whole point is surviving odd DDL).
    * Returns (tables, tier) with tier ∈ {"exact", "heuristic"}. */
  def tablesExact(ddl: String, defaultDb: Option[String]): (Seq[String], String) = {
    val lexed = lex(ddl)
    val exact =
      try Some(ChSql.referencedTables(viewQuery(new ChSql.Cur(ddl, lexed))))
      catch { case _: Exception => None }
    exact match {
      case Some(ts) => (ts.map(Names.normalize(_, defaultDb)).distinct.sorted, "exact")
      case None => (scan(ddl, lexed, defaultDb), "heuristic")
    }
  }

  /** The query of a view DDL: the whole statement when it is a SELECT,
    * else what follows the head `CREATE [OR REPLACE] [MATERIALIZED] VIEW
    * [IF NOT EXISTS] [db.]name [ON CLUSTER c] [TO [db.]t] [(columns)]
    * AS`. A materialized view's storage clauses (`ENGINE = …`,
    * `POPULATE`) are passed over to its top-level `AS`. */
  private def viewQuery(c: ChSql.Cur): ChSql.SetOp = {
    if (!c.isKw("SELECT") && !c.isKw("WITH")) {
      c.expectKw("CREATE")
      c.eatKw("OR", "REPLACE")
      val materialized = c.eatKw("MATERIALIZED")
      c.expectKw("VIEW")
      c.ifNotExists()
      c.name("a view name")
      if (c.eatKw("TO")) c.name("a table name")
      if (c.isP("(")) c.group()
      if (materialized) c.pos = c.upTo("AS")
      c.expectKw("AS")
    }
    c.query()
  }

  /** Keep-going wrapper for the exact tier: (deps, tier, error). */
  def extractExact(ddl: String, defaultDb: Option[String])
      : (Seq[String], String, Option[String]) =
    try { val (deps, tier) = tablesExact(ddl, defaultDb); (deps, tier, None) }
    catch { case e: Exception =>
      (Seq.empty, "error", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
}
