package graft.functions

import java.util.Locale
import scala.collection.mutable
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
  * Implemented as a hand-written SQL tokenizer (string-, quote- and
  * comment-aware) + linear token scanner — self-contained Scala, no parser
  * dependency, trivially parallel per row as a Spark UDF.
  */
object LineageExtractor {

  sealed trait Kind
  case object Ident extends Kind   // bare, `quoted`, or "quoted"
  case object Str extends Kind     // '...' literal
  case object Num extends Kind
  case object Punct extends Kind

  final case class Tok(text: String, kind: Kind) {
    /** Keywords compare in `Locale.ROOT`: under e.g. tr-TR `join` would
      * upper-case to `JOİN` and stop matching `JOIN`. */
    val upper: String = text.toUpperCase(Locale.ROOT)
    def is(kw: String): Boolean = kind == Ident && upper == kw
  }

  /** SQL keywords that terminate an alias position / FROM list. */
  private val stopWords: Set[String] = Set(
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "SETTINGS", "UNION",
    "JOIN", "ON", "USING", "PREWHERE", "SAMPLE", "ARRAY", "LEFT", "RIGHT",
    "INNER", "FULL", "CROSS", "OUTER", "SEMI", "ANTI", "ASOF", "ANY", "ALL",
    "GLOBAL", "WINDOW", "FORMAT", "INTO", "WITH", "SELECT", "FROM", "FINAL",
    "AS", "INTERSECT", "EXCEPT")

  /** Tokenize ClickHouse-ish SQL. Handles `--` and `/* */` comments,
    * single-quoted strings with backslash and '' escapes, backtick and
    * double-quote identifiers (with doubling escapes). Throws
    * [[LineageParseException]] on unterminated strings/quotes. */
  def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val n = sql.length
    var i = 0
    def err(msg: String) = throw new LineageParseException(msg)
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val end = sql.indexOf("*/", i + 2)
        i = if (end < 0) n else end + 2
      } else if (c == '\'') {
        val sb = new StringBuilder("'")
        i += 1
        var closed = false
        while (i < n && !closed) {
          val d = sql.charAt(i)
          if (d == '\\' && i + 1 < n) { sb.append(d).append(sql.charAt(i + 1)); i += 2 }
          else if (d == '\'' && i + 1 < n && sql.charAt(i + 1) == '\'') { sb.append("''"); i += 2 }
          else if (d == '\'') { sb.append(d); i += 1; closed = true }
          else { sb.append(d); i += 1 }
        }
        if (!closed) err("Unterminated string literal")
        out += Tok(sb.toString, Str)
      } else if (c == '`' || c == '"') {
        val q = c
        val sb = new StringBuilder().append(q)
        i += 1
        var closed = false
        while (i < n && !closed) {
          val d = sql.charAt(i)
          if (d == q && i + 1 < n && sql.charAt(i + 1) == q) { sb.append(q).append(q); i += 2 }
          else if (d == q) { sb.append(q); i += 1; closed = true }
          else { sb.append(d); i += 1 }
        }
        if (!closed) err(s"Unterminated quoted identifier")
        out += Tok(sb.toString, Ident)
      } else if (c.isDigit) {
        val start = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '.' ||
          ((sql.charAt(i) == '+' || sql.charAt(i) == '-') && i > start &&
            (sql.charAt(i - 1) == 'e' || sql.charAt(i - 1) == 'E')))) i += 1
        out += Tok(sql.substring(start, i), Num)
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        out += Tok(sql.substring(start, i), Ident)
      } else {
        out += Tok(c.toString, Punct)
        i += 1
      }
    }
    out.result()
  }

  /** Extract referenced tables from a CREATE VIEW/MV DDL (or bare SELECT),
    * normalized and sorted. Throws [[LineageParseException]] on blank input
    * (parity with the reference's entry-rule failure contract). */
  def tables(ddl: String, defaultDb: Option[String]): Seq[String] = {
    if (ddl == null || ddl.trim.isEmpty)
      throw new LineageParseException(
        "Could not find a suitable entry rule on ClickHouseParser for this grammar.")
    val toks = tokenize(ddl)

    // --- pass 1: CTE name capture (ch_view_dependencies.py:132-141) ---
    // Active from a WITH keyword until a SELECT/FROM at the same paren depth;
    // inside, `ident AS (` marks a CTE name.
    val cteNames = mutable.Set[String]()
    var depth = 0
    var withActive = false
    var withDepth = 0
    var k = 0
    while (k < toks.length) {
      val t = toks(k)
      if (t.kind == Punct && t.text == "(") depth += 1
      else if (t.kind == Punct && t.text == ")") depth -= 1
      else if (t.is("WITH")) { withActive = true; withDepth = depth }
      else if (withActive && depth == withDepth && (t.is("SELECT") || t.is("FROM")))
        withActive = false
      else if (withActive && t.kind == Ident && k + 2 < toks.length &&
        toks(k + 1).is("AS") && toks(k + 2).text == "(")
        cteNames += Names.clean(t.text)
      k += 1
    }

    // --- pass 2: table refs after FROM / JOIN ---
    val found = mutable.Set[String]()
    // Stack of "paren owners": the identifier immediately before each `(`,
    // lowercased — used to suppress the scalar-function FROMs of
    // EXTRACT/SUBSTRING/TRIM (ColumnExpr contexts in the reference grammar,
    // never table contexts: ClickHouseParser.py:14873-15007, 15251-15283).
    val owners = mutable.Stack[String]()
    val scalarFromFns = Set("extract", "substring", "trim")

    def isStop(t: Tok): Boolean = stopWords.contains(t.upper)

    /** Parse a qualified name starting at index j; returns (rawName, next). */
    def qualifiedName(j0: Int): (String, Int) = {
      val sb = new StringBuilder(toks(j0).text)
      var j = j0 + 1
      while (j + 1 < toks.length && toks(j).text == "." && toks(j + 1).kind == Ident) {
        sb.append('.').append(toks(j + 1).text)
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

    /** Parse one table ref at j (must be an Ident). Returns index after the
      * ref + its alias. Adds the candidate unless it is a table function. */
    def tableRef(j0: Int): Int = {
      val (raw, jAfter) = qualifiedName(j0)
      var j = jAfter
      if (j < toks.length && toks(j).text == "(") {
        // table function like s3('...') — excluded (paren rule); the linear
        // scan keeps going inside the parens naturally.
        j
      } else {
        addCandidate(raw)
        // skip FINAL / AS alias / bare alias
        var continue = true
        while (continue && j < toks.length) {
          val t = toks(j)
          if (t.is("FINAL")) j += 1
          else if (t.is("AS") && j + 1 < toks.length && toks(j + 1).kind == Ident) { j += 2 }
          else if (t.kind == Ident && !isStop(t)) j += 1
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
    // keywords that close the FROM clause at its own depth
    val fromEnders = Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
      "SETTINGS", "UNION", "INTERSECT", "EXCEPT", "SELECT", "WINDOW",
      "PREWHERE", "FORMAT", "INTO", "ARRAY")

    var depth2 = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.kind == Punct && t.text == "(") {
        val owner =
          if (i > 0 && toks(i - 1).kind == Ident) toks(i - 1).text.toLowerCase(Locale.ROOT) else ""
        owners.push(owner)
        depth2 += 1
        i += 1
      } else if (t.kind == Punct && t.text == ")") {
        if (owners.nonEmpty) owners.pop()
        depth2 -= 1
        while (fromDepths.nonEmpty && fromDepths.top > depth2) fromDepths.pop()
        i += 1
      } else if (t.is("FROM") &&
        !(owners.nonEmpty && scalarFromFns.contains(owners.top))) {
        if (!fromDepths.contains(depth2)) fromDepths.push(depth2)
        // FROM <ref> [, <ref>]*  — comma list = cross join
        // (ClickHouseParser.py:10855-10934)
        var j = i + 1
        var more = true
        while (more && j < toks.length) {
          if (toks(j).kind == Ident && !isStop(toks(j))) {
            j = tableRef(j)
            if (j < toks.length && toks(j).text == ",") { j += 1 } else more = false
          } else more = false // subquery `(` or clause keyword
        }
        i += 1
      } else if (t.is("JOIN") && !(i > 0 && toks(i - 1).is("ARRAY"))) {
        val j = i + 1
        if (j < toks.length && toks(j).kind == Ident && !isStop(toks(j))) tableRef(j)
        i += 1
      } else if (t.kind == Punct && t.text == "," &&
        fromDepths.nonEmpty && fromDepths.top == depth2) {
        val j = i + 1
        if (j < toks.length && toks(j).kind == Ident && !isStop(toks(j))) tableRef(j)
        i += 1
      } else if (t.kind == Ident && fromEnders.contains(t.upper) &&
        fromDepths.nonEmpty && fromDepths.top == depth2) {
        fromDepths.pop()
        i += 1
      } else i += 1
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
    * leak in. Falls back to the [[tables]] heuristic when the body does
    * not parse (the heuristic's whole point is surviving odd DDL).
    * Returns (tables, tier) with tier ∈ {"exact", "heuristic"}. */
  def tablesExact(ddl: String, defaultDb: Option[String]): (Seq[String], String) = {
    if (ddl == null || ddl.trim.isEmpty)
      return (tables(ddl, defaultDb), "heuristic") // throws the parity error
    val trimmed = ddl.trim
    val up = trimmed.toUpperCase(Locale.ROOT)
    // the SELECT body: the DDL itself when it IS a select, else the text
    // after the view definition's top-level `AS SELECT|WITH`
    val body =
      if (up.startsWith("SELECT") || up.startsWith("WITH")) Some(trimmed)
      else "(?is)\\bAS\\s+((?:SELECT|WITH)\\b.*)$".r
        .findFirstMatchIn(trimmed).map(_.group(1))
    body.flatMap { b =>
      try Some((graft.chsql.ChSql.referencedTables(b)
        .map(Names.normalize(_, defaultDb)).distinct.sorted, "exact"))
      catch { case _: Exception => None }
    }.getOrElse((tables(ddl, defaultDb), "heuristic"))
  }

  /** Keep-going wrapper for the exact tier: (deps, tier, error). */
  def extractExact(ddl: String, defaultDb: Option[String])
      : (Seq[String], String, Option[String]) =
    try { val (deps, tier) = tablesExact(ddl, defaultDb); (deps, tier, None) }
    catch { case e: Exception =>
      (Seq.empty, "error", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
}
