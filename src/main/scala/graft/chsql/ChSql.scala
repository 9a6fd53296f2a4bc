package graft.chsql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ClickHouse-SQL text front end: a recursive-descent parser for the CH
  * SELECT core, planned onto the existing graft operators and Spark's
  * DataFrame API.
  *
  * The reference's declared query surface is its SELECT grammar
  * (`generated_ch_parser/ClickHouseParser.py` — `queryStmt` 1705-1786,
  * `selectStmt` 8783-8861, `selectStmtWithParens` 9483-9527); every
  * construct below maps 1:1 onto a grammar rule. This is NOT a port of
  * the ANTLR tables: it is a hand-written Pratt/recursive-descent parser
  * (the same pattern as `graft.model.ChTypes`' type sublanguage) that
  * emits a *Spark logical plan* instead of a parse tree, so Catalyst
  * keeps full pushdown/pruning/codegen visibility — the text front end
  * adds zero execution-time overhead over the hand-authored DataFrame
  * builders.
  *
  * Supported surface (each → grammar rule):
  *  - WITH ctes (subquery + scalar-alias forms), SELECT [DISTINCT],
  *    FROM table|(subquery) [AS a] (withClause, topClause, fromClause)
  *  - [GLOBAL] [ANY] INNER/LEFT/RIGHT/FULL/CROSS [OUTER] JOIN ... ON/USING
  *    (joinClause 8984-9130)
  *  - [LEFT] ARRAY JOIN with multi-array zip alignment (arrayJoinClause
  *    9131-9183)
  *  - PREWHERE + WHERE (prewhereClause 9664-9708, whereClause)
  *  - GROUP BY [WITH TOTALS|ROLLUP|CUBE], GROUP BY ROLLUP(..)/CUBE(..)/
  *    GROUPING SETS ((..),()), HAVING — partial+final hash aggregation;
  *    select aliases usable in GROUP BY/HAVING/ORDER BY like CH
  *  - ORDER BY [ASC|DESC] [NULLS FIRST|LAST] [COLLATE 'loc'] (CH default:
  *    nulls last)
  *  - LIMIT n [, m] [WITH TIES] / LIMIT n BY cols / OFFSET (limitClause,
  *    limitByClause 9184-9276)
  *  - SAMPLE k/m | fraction on the left table (sampleClause 11016-11083;
  *    key column via SETTINGS graft_sample_key — parquet has no SAMPLE BY)
  *  - EXISTS (subquery) — eager boolean (CH subqueries are uncorrelated)
  *  - FROM t FINAL — ReplacingMergeTree collapse when SETTINGS carry
  *    graft_final_keys/graft_final_version (no engine clause in parquet)
  *  - `* EXCEPT (cols) [APPLY(f)]`, `COLUMNS('re') [EXCEPT ..] [APPLY(f)]`
  *    star modifiers, expanded at plan time against the input schema
  *  - WINDOW w AS (spec) named windows, referenced as `f() OVER w`
  *  - INTO OUTFILE 'p' [FORMAT f] sink writes; standalone FORMAT f
  *    surfaced via [[sqlWithFormat]] for display callers (the Sql CLI)
  *  - SETTINGS k=v (settingsClause 10271-10314) via [[graft.plans.Settings]]
  *  - UNION ALL/DISTINCT, INTERSECT, EXCEPT set operations
  *  - expressions: arithmetic, comparison, AND/OR/NOT, [NOT] LIKE/ILIKE,
  *    [NOT] IN (list | subquery → semi/anti join), BETWEEN, IS [NOT] NULL,
  *    CASE (both forms), CAST (CH type names via ChTypes), INTERVAL,
  *    array/tuple literals + indexing (1-based), lambdas for array HOFs,
  *    scalar subqueries, parametric aggregates `quantile(0.5)(x)`
  *  - ~150 CH function names mapped to codegen'd Spark builtins (no UDFs)
  *
  * Entry points: [[sql]] (resolve tables through a callback) and
  * [[sqlCatalog]] (resolve through the session catalog).
  */
object ChSql {

  // ===================== lexer =====================

  private[graft] sealed trait Tok
  /** A name: bare, or `quoted` in backquotes or double quotes (quotes
    * dropped, doubled quotes undone). [[up]] is what keyword tests
    * compare: upper-cased in `Locale.ROOT`, and empty for a quoted name,
    * which never matches a keyword (`` `from` `` is a column). */
  private[graft] case class TId(s: String, quoted: Boolean = false) extends Tok {
    val up: String = if (quoted) "" else s.toUpperCase(java.util.Locale.ROOT)
  }
  private[graft] case class TNum(s: String) extends Tok
  private[graft] case class TStr(s: String) extends Tok
  private[graft] case class TP(s: String) extends Tok
  private[graft] case object TEnd extends Tok

  /** graft's one SQL lexer: (token, start, end-exclusive) offsets over
    * the ORIGINAL text. Comments and whitespace are hidden: they produce
    * no token. It follows ClickHouse's quoting: `'it''s'` and `'it\'s'`
    * are one string, `` `a``b` `` and `"a""b"` one quoted name. Every
    * statement is lexed once, here ([[Cur]]); a clause body that another
    * parser reads as text is sliced back out of the original by these
    * offsets, so a string literal containing `) ENGINE =` or a keyword
    * cannot fool the split. [[graft.Sql]] splits scripts into statements
    * on its `;` tokens, the lineage extractor scans view DDL on its tokens
    * ([[graft.functions.LineageExtractor]]) and [[graft.model.ChTypes]]
    * cuts type lists on them. Unterminated strings, quoted names and
    * block comments are refused. */
  private[graft] def lexPos(input: String): Vector[(Tok, Int, Int)] =
    lexImpl(input)

  /** `INSERT INTO t [(cols)] FORMAT f` was just lexed: what follows the
    * format name is data for the input format, not SQL (the CH parser
    * hands it to the format reader unparsed), so it becomes one raw
    * string token. */
  private def insertDataFollows(out: collection.Seq[(Tok, Int, Int)]): Boolean = {
    def is(i: Int, kws: String*): Boolean = out(i)._1 match {
      case t: TId => kws.contains(t.up)
      case _ => false
    }
    val n = out.length
    n >= 5 && is(n - 2, "FORMAT") && is(0, "INSERT") && !is(n - 3, "INTO", "TABLE") &&
      !(0 until n - 2).exists(is(_, "SELECT", "WITH", "VALUES"))
  }

  private def lexImpl(input: String): Vector[(Tok, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Tok, Int, Int)]
    var i = 0
    val n = input.length
    def peek(k: Int) = if (i + k < n) input(i + k) else '\u0000'
    def wordChar(ch: Char) = ch.isLetterOrDigit || ch == '_'
    /** The number token `tok` read from `st`, unless the number runs on
      * into word characters: then, as in ClickHouse's lexer, it reads to
      * the end of the word, which is one name when every character is a
      * word character (`1abc`, `1each`, `0x1Fg`) and refused otherwise
      * (`1.5abc`). */
    def number(st: Int, tok: => Tok): Unit =
      if (i < n && wordChar(input(i))) {
        while (i < n && wordChar(input(i))) i += 1
        val word = input.substring(st, i)
        if (!word.forall(wordChar)) throw new IllegalArgumentException(
          s"ChSql: malformed number '$word'")
        out += ((TId(word), st, i))
      } else out += ((tok, st, i))
    /** A `.` written right after a name or a closing bracket is the
      * compound-name or tuple-access dot, never a number's point: `db.1t`
      * is `db` `.` `1t` and `t.1` is `t` `.` `1` (ClickHouse's lexer). */
    def dotAfterName = out.nonEmpty && out.last._3 == i && (out.last._1 match {
      case _: TId | TP(")") | TP("]") => true
      case _ => false
    })
    /** The quoted token opening at `i` with quote `q`, unescaped: a
      * doubled quote stands for one, and in a string literal a backslash
      * escapes the next character. Leaves `i` past the closing quote. */
    def quoted(q: Char, what: String): String = {
      val sb = new java.lang.StringBuilder
      i += 1
      var open = true
      while (open && i < n) {
        val d = input(i)
        if (d == '\\' && q == '\'' && i + 1 < n) { sb.append(unescape(input(i + 1))); i += 2 }
        else if (d == q && peek(1) == q) { sb.append(q); i += 2 }
        else if (d == q) { i += 1; open = false }
        else { sb.append(d); i += 1 }
      }
      if (open) throw new IllegalArgumentException(s"ChSql: unterminated $what")
      sb.toString
    }
    while (i < n) {
      val c = input(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && peek(1) == '-') { while (i < n && input(i) != '\n') i += 1 }
      else if (c == '/' && peek(1) == '*') {
        val close = input.indexOf("*/", i + 2)
        if (close < 0) throw new IllegalArgumentException(
          "ChSql: unterminated /* comment")
        i = close + 2
      }
      else if (c.isLetter || c == '_') {
        val st = i
        while (i < n && wordChar(input(i))) i += 1
        out += ((TId(input.substring(st, i)), st, i))
        if (insertDataFollows(out) &&
            input.indexWhere(!_.isWhitespace, i) >= 0) {
          out += ((TStr(input.substring(i)), i, n)); i = n
        }
      }
      else if (c == '`' || c == '"') {
        val st = i
        val name = quoted(c, if (c == '`') "backquoted identifier" else "quoted identifier")
        out += ((TId(name, quoted = true), st, i))
      }
      else if (c == '0' && (peek(1) == 'x' || peek(1) == 'X') &&
          (peek(2).isDigit || "abcdefABCDEF".indexOf(peek(2)) >= 0)) {
        // hex literal (lexer HEXADECIMAL_LITERAL) — normalized to decimal
        val st = i; i += 2
        while (i < n && (input(i).isDigit ||
          "abcdefABCDEF".indexOf(input(i)) >= 0)) i += 1
        number(st, TNum(new java.math.BigInteger(
          input.substring(st + 2, i), 16).toString))
      }
      else if (c == '0' && (peek(1) == 'b' || peek(1) == 'B') &&
          (peek(2) == '0' || peek(2) == '1')) {
        // binary literal (lexer BINARY_LITERAL)
        val st = i; i += 2
        while (i < n && (input(i) == '0' || input(i) == '1')) i += 1
        number(st, TNum(new java.math.BigInteger(
          input.substring(st + 2, i), 2).toString))
      }
      else if (c.isDigit || (c == '.' && peek(1).isDigit && !dotAfterName)) {
        val st = i
        while (i < n && (input(i).isDigit || input(i) == '.' || input(i) == 'e' ||
          input(i) == 'E' || ((input(i) == '+' || input(i) == '-') &&
            (input(i - 1) == 'e' || input(i - 1) == 'E')))) i += 1
        number(st, TNum(input.substring(st, i)))
      }
      else if (c == '\'') {
        val st = i
        out += ((TStr(quoted('\'', "string literal")), st, i))
      }
      else {
        val two = if (i + 1 < n) input.substring(i, i + 2) else ""
        if (TwoCharOps.contains(two)) {
          out += ((TP(two), i, i + 2)); i += 2
        } else { out += ((TP(c.toString), i, i + 1)); i += 1 }
      }
    }
    out += ((TEnd, n, n))
    out.toVector
  }

  private val TwoCharOps = Set("==", "!=", "<>", "<=", ">=", "||", "->", "::")

  private def unescape(c: Char): Char = c match {
    case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
    case '0' => '\u0000'; case other => other
  }

  /** The statement front end's cursor: one statement's tokens, lexed once,
    * and a read position. Statement heads are matched on keyword tokens,
    * so comments, case and line breaks between them do not matter. A body
    * another parser reads goes over as tokens ([[query]], [[expr]]) or,
    * where that reader takes text (type names, recorded metadata), as a
    * [[slice]] of the original. A handler parses its whole statement
    * before it acts and ends with [[done]], so a clause it does not know
    * fails instead of being ignored. */
  private[graft] final class Cur(val text: String, val toks: Vector[(Tok, Int, Int)]) {
    def this(text: String) = this(text, lexPos(text))
    val end: Int = toks.length - 1 // the TEnd token
    var pos = 0

    def tok(k: Int = 0): Tok = toks(math.min(pos + k, end))._1
    /** Upper-cased identifier `k` tokens ahead, "" for any other token. */
    def word(k: Int = 0): String = tok(k) match {
      case t: TId => t.up
      case _ => ""
    }
    private def kwsAt(i: Int, kws: Seq[String]): Boolean =
      kws.indices.forall(k => toks(math.min(i + k, end))._1 match {
        case t: TId => t.up == kws(k)
        case _ => false
      })
    def isKw(kws: String*): Boolean = kwsAt(pos, kws)
    def eatKw(kws: String*): Boolean = isKw(kws: _*) && { pos += kws.length; true }
    def expectKw(kws: String*): Unit =
      if (!eatKw(kws: _*)) fail(s"expected ${kws.mkString(" ")} at '${slice(pos, pos + 1)}'")
    def isP(p: String): Boolean = tok() == TP(p)
    def eatP(p: String): Boolean = isP(p) && { pos += 1; true }
    def expectP(p: String): Unit =
      if (!eatP(p)) fail(s"expected '$p' at '${slice(pos, pos + 1)}'")
    def atEnd: Boolean = pos >= end
    def fail(msg: String): Nothing = throw new IllegalArgumentException(s"ChSql: $msg")
    /** Statement fully consumed, or a `ChSql:` error naming the rest. */
    def done(): Unit =
      if (!atEnd) fail(s"unexpected '${slice(pos, end)}' at the end of the statement")

    def ident(what: String): String = tok() match {
      case t: TId if t.s.isEmpty => fail(s"$what is an empty quoted name")
      case t: TId => pos += 1; t.s
      case _ => fail(s"expected $what")
    }
    def str(what: String): String = tok() match {
      case TStr(s) => pos += 1; s
      case _ => fail(s"expected $what")
    }
    def num(what: String): String = tok() match {
      case TNum(s) => pos += 1; s
      case _ => fail(s"expected $what")
    }
    def ifExists(): Boolean = eatKw("IF", "EXISTS")
    def ifNotExists(): Boolean = eatKw("IF", "NOT", "EXISTS")
    /** `ON CLUSTER <id|'str'>` (clusterClause, ClickHouseParser.py:
      * 5461-5530): one engine has only cluster-wide execution, so the
      * topology name is read and discarded. */
    def cluster(): Unit = if (eatKw("ON", "CLUSTER")) tok() match {
      case _: TId | _: TStr => pos += 1
      case _ => fail("ON CLUSTER needs a cluster name")
    }
    /** `[db.]name`, then the optional `ON CLUSTER` that follows object
      * names in every DDL head. */
    def name(what: String = "a name"): String = {
      val n = ident(what)
      val q = if (eatP(".")) s"$n.${ident(what)}" else n
      cluster()
      q
    }

    private def depthDelta(i: Int): Int = toks(i)._1 match {
      case TP("(") | TP("[") => 1
      case TP(")") | TP("]") => -1
      case _ => 0
    }
    /** Index of the bracket that closes the one opening at token `i`. */
    private def closeOf(i: Int): Int = {
      var depth = depthDelta(i)
      var j = i + 1
      while (depth > 0 && j < end) { depth += depthDelta(j); j += 1 }
      if (depth > 0) fail(s"unbalanced '(' in '${slice(i, end)}'")
      j - 1
    }
    /** Token range inside the paren group that opens at the cursor; the
      * cursor moves past its close. */
    def group(): (Int, Int) = {
      val close = if (isP("(")) closeOf(pos) else fail(s"expected '(' at '${slice(pos, pos + 1)}'")
      val r = (pos + 1, close)
      pos = close + 1
      r
    }
    /** Index of the first top-level token in [from, until) that starts
      * one of the keyword sequences `stops` ("ORDER BY", "WHERE"), or
      * `until`. */
    def find(from: Int, until: Int, stops: String*): Int = {
      val seqs = stops.map(_.split(' ').toSeq)
      var i = from
      var depth = 0
      while (i < until && !(depth == 0 && seqs.exists(kwsAt(i, _)))) {
        depth += depthDelta(i); i += 1
      }
      i
    }
    /** [[find]] from the cursor to the end of the statement. */
    def upTo(stops: String*): Int = find(pos, end, stops: _*)
    /** The top-level comma-separated items of tokens [from, until). */
    def items(from: Int, until: Int): Seq[(Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var depth = 0
      var start = from
      for (i <- from until until) {
        if (depth == 0 && toks(i)._1 == TP(",")) { out += ((start, i)); start = i + 1 }
        depth += depthDelta(i)
      }
      if (until > start) out += ((start, until))
      out.toSeq
    }
    /** The `name = value` items of tokens [from, until), each value's text
      * with its quotes dropped. */
    def pairs(from: Int, until: Int, what: String): Seq[(String, String)] =
      items(from, until).map { case (a, b) =>
        val eq = (a until b).find(toks(_)._1 == TP("=")).filter(i => i > a && i < b - 1)
          .getOrElse(fail(s"malformed $what (expected name = value): '${slice(a, b)}'"))
        slice(a, eq) -> slice(eq + 1, b).stripPrefix("'").stripSuffix("'")
      }
    /** The original text of tokens [from, until); a gap that holds a
      * comment reads as one space. */
    def slice(from: Int, until: Int): String = {
      val sb = new java.lang.StringBuilder
      for (i <- from until math.min(until, end)) {
        if (i > from) {
          val gap = text.substring(toks(i - 1)._3, toks(i)._2)
          sb.append(if (gap.forall(_.isWhitespace)) gap else " ")
        }
        sb.append(text, toks(i)._2, toks(i)._3)
      }
      sb.toString
    }
    /** [[slice]] without one pair of parens around the whole range. */
    def sliceUnparen(from: Int, until: Int): String =
      if (until > from && toks(from)._1 == TP("(") && closeOf(from) == until - 1)
        slice(from + 1, until - 1)
      else slice(from, until)
    /** The rest of the statement; the cursor moves to its end. */
    def rest(): (Int, Int) = { val r = (pos, end); pos = end; r }

    private def parsed[T](from: Int, until: Int)(rule: P => T): T = {
      val p = new P(toks.slice(from, until).map(_._1) :+ TEnd)
      val v = rule(p)
      if (p.cur != TEnd) p.fail("trailing tokens after statement")
      v
    }
    /** The query (SELECT/WITH/set operation) in [from, until). */
    def query(from: Int, until: Int): SetOp = parsed(from, until)(_.parseSetOp())
    /** The query that runs to the end of the statement. */
    def query(): SetOp = { val (a, b) = rest(); query(a, b) }
    def expr(from: Int, until: Int): Expr = parsed(from, until)(_.parseExpr())
    /** The expression that runs to the end of the statement. */
    def expr(): Expr = { val (a, b) = rest(); expr(a, b) }
  }

  // ===================== AST =====================

  sealed trait Expr
  case class NumLit(text: String) extends Expr
  case class StrLit(v: String) extends Expr
  case object NullLit extends Expr
  case class Ident(parts: Seq[String]) extends Expr
  case object Star extends Expr
  /** `* EXCEPT (c, ...) [APPLY(f)]` and `COLUMNS('re') [EXCEPT ...]
    * [APPLY(f)]` star modifiers (ColumnsExprRegexp + except/apply
    * modifiers, ClickHouseParser.py:16708-16729). `re = None` is the
    * plain `*`; expansion happens at plan time against the input schema. */
  case class StarMod(re: Option[String], except: Seq[String],
      applyFn: Option[String]) extends Expr
  case class FuncCall(name: String, params: Seq[Expr], args: Seq[Expr],
      distinct: Boolean = false) extends Expr
  case class Bin(op: String, l: Expr, r: Expr) extends Expr
  case class Neg(e: Expr) extends Expr
  case class NotE(e: Expr) extends Expr
  case class IsNullE(e: Expr, negated: Boolean) extends Expr
  case class InList(e: Expr, items: Seq[Expr], negated: Boolean) extends Expr
  case class InSub(e: Expr, sub: SetOp, negated: Boolean) extends Expr
  /** Quantified comparison `e op ANY|ALL (subquery)` — the forms that do
    * not reduce to IN/NOT IN (`= ANY` and `<> ALL` parse straight to
    * [[InSub]]). */
  case class QuantCmp(op: String, e: Expr, all: Boolean, sub: SetOp)
    extends Expr
  case class BetweenE(e: Expr, lo: Expr, hi: Expr, negated: Boolean) extends Expr
  case class CaseE(operand: Option[Expr], branches: Seq[(Expr, Expr)],
      elseE: Option[Expr]) extends Expr
  case class LambdaE(params: Seq[String], body: Expr) extends Expr
  case class ArrayLit(items: Seq[Expr]) extends Expr
  case class TupleLit(items: Seq[Expr]) extends Expr
  case class CastE(e: Expr, chType: String) extends Expr
  case class IntervalE(n: Expr, unit: String) extends Expr
  case class ScalarSub(sub: SetOp) extends Expr
  /** Query parameter `{name:Type}` — value supplied per session via
    * `SET param_name = ...` (queryParameter, the CH parameterized-query
    * surface). */
  case class ParamE(name: String, chType: String) extends Expr
  /** `EXISTS (subquery)` — CH subqueries are uncorrelated, so EXISTS is a
    * query-constant: evaluated eagerly to a boolean literal (same eager
    * policy as [[ScalarSub]]). */
  case class ExistsSub(sub: SetOp) extends Expr
  case class Idx(e: Expr, i: Expr) extends Expr
  /** `f(...) OVER (PARTITION BY ... ORDER BY ... [ROWS BETWEEN ...])` —
    * CH's window-function clause (windowExpr in the grammar). `frame` is
    * (isRows, loBound, hiBound) with Long.MinValue/MaxValue for the
    * unbounded ends and 0 for CURRENT ROW. */
  case class WindowE(fn: FuncCall, partBy: Seq[Expr], ordBy: Seq[OrderItem],
      frame: Option[(Boolean, Long, Long)]) extends Expr
  /** `f(...) OVER w` — reference to a named window from the WINDOW clause
    * (windowClause in the grammar); resolved at translation time. */
  case class WindowERef(fn: FuncCall, name: String) extends Expr

  /** A named-window spec: (partition exprs, order items, frame). */
  type WinSpec = (Seq[Expr], Seq[OrderItem], Option[(Boolean, Long, Long)])

  case class SelectItem(e: Expr, alias: Option[String])
  sealed trait Relation
  case class TableRef(name: String, alias: Option[String], fin: Boolean) extends Relation
  case class SubqueryRel(sel: SetOp, alias: Option[String]) extends Relation
  /** `FROM numbers(10)` / `file('p', 'Parquet')` — table functions as
    * relations (tableFunctionExpr, ClickHouseParser.py:17027-17087),
    * planned onto [[graft.sources.TableFunctions]]. */
  case class TableFuncRel(name: String, args: Seq[Expr],
      alias: Option[String]) extends Relation
  case class JoinSpec(joinType: String, any: Boolean, rel: Relation,
      on: Option[Expr], using: Seq[String], asof: Boolean = false)
  case class ArrayJoinItem(e: Expr, alias: Option[String])
  case class FillSpec(from: Option[Expr], to: Option[Expr],
      step: Option[Expr], interpolate: Seq[String])
  case class OrderItem(e: Expr, asc: Boolean, nullsFirst: Option[Boolean],
      fill: Option[FillSpec] = None, collate: Option[String] = None)

  case class SelectStmt(
      distinct: Boolean,
      // DISTINCT ON (exprs): first row per key set (9048-9088 region)
      distinctOn: Seq[Expr],
      items: Seq[SelectItem],
      from: Option[Relation],
      joins: Seq[JoinSpec],
      arrayJoins: Seq[ArrayJoinItem], leftArrayJoin: Boolean,
      prewhere: Option[Expr], where: Option[Expr],
      groupBy: Seq[Expr], groupByAll: Boolean, withTotals: Boolean,
      having: Option[Expr],
      orderBy: Seq[OrderItem],
      limitBy: Option[(Long, Long, Seq[Expr])], // (offset, n, by exprs)
      limit: Option[Long], offset: Option[Long],
      settings: Seq[(String, String)],
      ctes: Map[String, SetOp], exprCtes: Map[String, Expr],
      outfile: Option[(String, String)] = None, // (path, FORMAT name)
      groupKind: String = "plain", // plain | rollup | cube | sets
      groupSets: Seq[Seq[Expr]] = Nil, // for GROUPING SETS
      limitTies: Boolean = false,
      sample: Option[(Long, Long, Long)] = None, // SAMPLE k/m (+offset buckets)
      format: Option[String] = None, // standalone trailing FORMAT f
      windows: Map[String, WinSpec] = Map.empty, // WINDOW w AS (...)
      recursiveCtes: Set[String] = Set.empty, // WITH RECURSIVE names
      qualify: Option[Expr] = None) // QUALIFY (filter on window results)

  sealed trait SetOp
  case class One(s: SelectStmt) extends SetOp
  case class Combine(op: String, all: Boolean, l: SetOp, r: SetOp) extends SetOp

  // ===================== parser =====================

  private val Reserved: Set[String] = Set(
    "FROM", "WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "SETTINGS", "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER",
    "LEFT", "RIGHT", "FULL", "CROSS", "GLOBAL", "ANY", "SEMI", "ANTI",
    "ASOF", "ON", "USING", "ARRAY", "AS", "ASC", "DESC", "DESCENDING",
    "ASCENDING", "WITH", "BY", "AND", "OR", "NOT", "IN", "LIKE", "ILIKE",
    "BETWEEN", "IS", "NULL", "CASE", "WHEN", "THEN", "ELSE", "END",
    "DISTINCT", "ALL", "TOTALS", "FINAL", "INTERVAL", "CAST", "SELECT",
    "NULLS", "FIRST", "LAST", "OUTER", "OVER", "PARTITION", "INTO",
    "OUTFILE", "FORMAT", "SAMPLE", "COLLATE", "WINDOW", "QUALIFY", "PASTE")

  private final class P(toks: Vector[Tok]) {
    private var pos = 0
    def cur: Tok = toks(pos)
    def advance(): Tok = { val t = cur; pos += 1; t }
    def isKw(kw: String): Boolean = cur match {
      case t: TId => t.up == kw
      case _ => false
    }
    def kwAt(k: Int, kw: String): Boolean = toks(pos + k) match {
      case t: TId => t.up == kw
      case _ => false
    }
    def pAt(k: Int, p: String): Boolean = toks(pos + k) match {
      case TP(s) => s == p
      case _ => false
    }
    def eatKw(kw: String): Boolean = if (isKw(kw)) { pos += 1; true } else false
    def expectKw(kw: String): Unit =
      if (!eatKw(kw)) fail(s"expected $kw")
    def isP(p: String): Boolean = cur match {
      case TP(s) => s == p
      case _ => false
    }
    def eatP(p: String): Boolean = if (isP(p)) { pos += 1; true } else false
    def expectP(p: String): Unit = if (!eatP(p)) fail(s"expected '$p'")
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"ChSql parse error at token $pos (${cur}): $msg")

    /** A name. ClickHouse's identifier parser refuses an empty quoted
      * name (`""`, an empty backquoted one), so this does too. */
    def ident(): String = cur match {
      case t: TId if t.s.isEmpty => fail("empty quoted identifier")
      case t: TId => pos += 1; t.s
      case _ => fail("expected identifier")
    }
    /** `AS alias`, or a bare alias that is no reserved keyword. */
    def optAlias(): Option[String] =
      if (eatKw("AS")) Some(ident())
      else cur match {
        case t: TId if !Reserved.contains(t.up) => Some(ident())
        case _ => None
      }

    // ---- expressions ----

    def parseExpr(): Expr = {
      val c = parseOr()
      if (eatP("?")) { // CH ternary: cond ? then : else
        val thn = parseOr()
        expectP(":")
        val els = parseExpr() // right-associative
        CaseE(None, Seq((c, thn)), Some(els))
      } else c
    }

    private def parseOr(): Expr = {
      var l = parseAnd()
      while (eatKw("OR")) l = Bin("OR", l, parseAnd())
      l
    }
    private def parseAnd(): Expr = {
      var l = parseNot()
      while (eatKw("AND")) l = Bin("AND", l, parseNot())
      l
    }
    private def parseNot(): Expr =
      if (eatKw("NOT")) parseNot() match {
        // `NOT x IN (subquery)` is CH-legal and means `x NOT IN (...)`;
        // fold the negation into InSub so every consumer (WHERE conjunct
        // semi/anti planning, projected IN, HAVING, QUALIFY) sees the
        // same normalized node (fuzz-gate discovery, seed 130)
        case InSub(e, sub, neg) => InSub(e, sub, !neg)
        case other => NotE(other)
      } else parseCmp()

    private def parseCmp(): Expr = {
      val l = parseAdd()
      // GLOBAL IN / GLOBAL NOT IN ≡ IN: the distributed-subquery hint is
      // moot here — Spark always plans the subquery side cluster-wide
      if (isKw("GLOBAL") &&
          (kwAt(1, "IN") || (kwAt(1, "NOT") && kwAt(2, "IN")))) advance()
      val negated = eatKw("NOT")
      if (isP("=") || isP("==") || isP("!=") || isP("<>") || isP("<") ||
          isP("<=") || isP(">") || isP(">=")) {
        if (negated) fail("NOT before comparison operator")
        val op = advance().asInstanceOf[TP].s
        // quantified comparison: op ANY|ALL (subquery). `= ANY` IS
        // membership and `<> ALL` IS non-membership — route them through
        // the IN machinery (semi/anti join at the top of a conjunction);
        // the ordered forms carry their own min/max/count fold
        if ((isKw("ANY") || isKw("ALL")) && toks(pos + 1) == TP("(")) {
          val all = isKw("ALL"); advance(); expectP("(")
          if (!isKw("SELECT") && !isKw("WITH")) fail("ANY/ALL needs a subquery")
          val sub = parseSetOp(); expectP(")")
          (op, all) match {
            case ("=", false) | ("==", false) => InSub(l, sub, negated = false)
            case ("!=", true) | ("<>", true) => InSub(l, sub, negated = true)
            case _ => QuantCmp(op, l, all, sub)
          }
        } else Bin(op, l, parseAdd())
      } else if (eatKw("LIKE")) {
        val r = Bin("LIKE", l, parseAdd()); if (negated) NotE(r) else r
      } else if (eatKw("ILIKE")) {
        val r = Bin("ILIKE", l, parseAdd()); if (negated) NotE(r) else r
      } else if (eatKw("IN")) {
        expectP("(")
        if (isKw("SELECT") || isKw("WITH")) {
          val sub = parseSetOp(); expectP(")"); InSub(l, sub, negated)
        } else {
          val items = parseExprList(); expectP(")"); InList(l, items, negated)
        }
      } else if (eatKw("BETWEEN")) {
        val lo = parseAdd(); expectKw("AND"); val hi = parseAdd()
        BetweenE(l, lo, hi, negated)
      } else if (eatKw("IS")) {
        if (negated) fail("NOT before IS")
        val neg = eatKw("NOT"); expectKw("NULL"); IsNullE(l, neg)
      } else {
        if (negated) fail("dangling NOT")
        l
      }
    }

    private def parseAdd(): Expr = {
      var l = parseMul()
      while (isP("+") || isP("-") || isP("||")) {
        val op = advance().asInstanceOf[TP].s
        l = Bin(op, l, parseMul())
      }
      l
    }
    private def parseMul(): Expr = {
      var l = parseUnary()
      while (isP("*") || isP("/") || isP("%")) {
        val op = advance().asInstanceOf[TP].s
        l = Bin(op, l, parseUnary())
      }
      l
    }
    private def parseUnary(): Expr =
      if (eatP("-")) Neg(parseUnary()) else parsePostfix()

    private def parsePostfix(): Expr = {
      var e = parsePrimary()
      var go = true
      while (go) {
        if (eatP("[")) { val i = parseExpr(); expectP("]"); e = Idx(e, i) }
        // `e :: Type` cast operator (ClickHouseParser.py:15059-15079)
        else if (eatP("::")) e = CastE(e, parseTypeName())
        else if (isP(".") && toks(pos + 1).isInstanceOf[TNum]) {
          pos += 1
          val i = advance().asInstanceOf[TNum].s.toInt
          e = FuncCall("tupleElement", Nil, Seq(e, NumLit(i.toString)))
        }
        // after a gap the lexer reads `t .1` / `(...) .1` as the float
        // ".1" — a dot-number directly after a postfix expr is tuple access
        else if (cur match {
          case TNum(s) => s.startsWith(".") && s.drop(1).forall(_.isDigit)
          case _ => false
        }) {
          val i = advance().asInstanceOf[TNum].s.drop(1).toInt
          e = FuncCall("tupleElement", Nil, Seq(e, NumLit(i.toString)))
        }
        else go = false
      }
      e
    }

    private def parseExprList(): Seq[Expr] = {
      val b = Seq.newBuilder[Expr]
      b += parseExpr()
      while (eatP(",")) b += parseExpr()
      b.result()
    }

    private def parsePrimary(): Expr = cur match {
      case TNum(s) => pos += 1; NumLit(s)
      case TStr(s) => pos += 1; StrLit(s)
      // query parameter {name:Type} (the CH parameterized-query surface;
      // values arrive via `SET param_name = ...`)
      case TP("{") =>
        pos += 1
        val name = ident()
        expectP(":")
        val ty = new StringBuilder
        var depth = 0
        while (!(depth == 0 && isP("}"))) {
          cur match {
            case TP("(") => depth += 1; ty += '('
            case TP(")") => depth -= 1; ty += ')'
            case TP(p) => ty ++= p
            case TId(s, _) => if (ty.nonEmpty &&
              ty.last.isLetterOrDigit) ty += ' '; ty ++= s
            case TNum(s) => ty ++= s
            case TStr(s) => ty ++= s"'$s'"
            case TEnd => fail(s"unterminated query parameter {$name:...}")
          }
          advance()
        }
        expectP("}")
        ParamE(name, ty.toString)
      case t: TId if t.up == "COLUMNS" && pAt(1, "(") =>
        pos += 1; expectP("(")
        val re = cur match {
          case TStr(s) => pos += 1; s
          case other => fail(s"COLUMNS needs a regex string, got $other")
        }
        expectP(")")
        StarMod(Some(re), Nil, None)
      case t: TId if t.up == "EXISTS" && pAt(1, "(") =>
        pos += 1; expectP("(")
        val sub = parseSetOp(); expectP(")")
        ExistsSub(sub)
      case TP("(") =>
        pos += 1
        if (isKw("SELECT") || isKw("WITH")) {
          val sub = parseSetOp(); expectP(")"); ScalarSub(sub)
        } else {
          val items = parseExprList(); expectP(")")
          if (isP("->")) { // (x, y) -> body
            pos += 1
            val params = items.map {
              case Ident(Seq(p)) => p
              case other => fail(s"lambda parameter must be an identifier: $other")
            }
            LambdaE(params, parseExpr())
          } else if (items.size == 1) items.head
          else TupleLit(items)
        }
      case TP("[") =>
        pos += 1
        if (eatP("]")) ArrayLit(Nil)
        else { val items = parseExprList(); expectP("]"); ArrayLit(items) }
      case TP("*") => pos += 1; Star
      case t: TId if t.up == "NULL" => pos += 1; NullLit
      // `DATE 'yyyy-mm-dd'` / `TIMESTAMP 'yyyy-mm-dd hh:mm:ss'` typed
      // literals (ClickHouseParser.py:15481-15498, 15377-15394)
      case t: TId if (t.up == "DATE" || t.up == "TIMESTAMP") &&
          toks(pos + 1).isInstanceOf[TStr] =>
        pos += 1
        val s = advance().asInstanceOf[TStr].s
        FuncCall(if (t.up == "DATE") "toDate" else "toDateTime",
          Nil, Seq(StrLit(s)))
      case t: TId if t.up == "CASE" => parseCase()
      case t: TId if t.up == "CAST" => parseCast()
      case t: TId if t.up == "INTERVAL" =>
        pos += 1
        val nTok = parseUnary()
        val unit = ident().toLowerCase(java.util.Locale.ROOT)
        IntervalE(nTok, unit)
      case t: TId if t.up == "NOT" => pos += 1; NotE(parseNot())
      case t: TId =>
        // LEFT/RIGHT are string functions, ANY the aggregate — all three
        // double as join keywords; a following '(' disambiguates
        if (Reserved.contains(t.up) && t.up != "LEFT" && t.up != "RIGHT" &&
            !(t.up == "ANY" && toks(pos + 1) == TP("(")))
          fail(s"unexpected keyword ${t.s} in expression")
        val name = ident()
        if (isP("(")) parseCallAfterName(name)
        else if (isP("->")) { pos += 1; LambdaE(Seq(name), parseExpr()) }
        else {
          val parts = Seq.newBuilder[String]
          parts += name
          while (isP(".") && toks(pos + 1).isInstanceOf[TId]) {
            pos += 1; parts += ident()
          }
          Ident(parts.result())
        }
      case other => fail(s"unexpected token $other")
    }

    private def parseCallAfterName(name: String): Expr = {
      expectP("(")
      val up0 = name.toUpperCase(java.util.Locale.ROOT)
      // SQL-standard keyword call forms (the function-call spellings of
      // all three already work through the generic path below):
      // EXTRACT(unit FROM e) — ClickHouseParser.py:14873-14899
      if (up0 == "EXTRACT" && cur.isInstanceOf[TId] && kwAt(1, "FROM")) {
        val fn = ident().toUpperCase(java.util.Locale.ROOT) match {
          case "YEAR" => "toYear"
          case "QUARTER" => "toQuarter"
          case "MONTH" => "toMonth"
          case "WEEK" => "toISOWeek"
          case "DAY" => "toDayOfMonth"
          case "HOUR" => "toHour"
          case "MINUTE" => "toMinute"
          case "SECOND" => "toSecond"
          case other => fail(s"EXTRACT: unsupported unit $other")
        }
        expectKw("FROM")
        val e = parseExpr(); expectP(")")
        return FuncCall(fn, Nil, Seq(e))
      }
      // SUBSTRING(e FROM a [FOR b]) — ClickHouseParser.py:14979-15007
      if ((up0 == "SUBSTRING" || up0 == "SUBSTR") && !isP(")")) {
        val e0 = parseExpr()
        if (eatKw("FROM")) {
          val a = parseExpr()
          val b = if (eatKw("FOR")) Some(parseExpr()) else None
          expectP(")")
          return FuncCall("substring", Nil, Seq(e0, a) ++ b.toSeq)
        }
        // comma spelling: finish the list the generic way
        val rest =
          if (eatP(")")) Seq(e0)
          else { expectP(","); val a = parseExprList(); expectP(")"); e0 +: a }
        return FuncCall("substring", Nil, rest)
      }
      // POSITION(needle IN haystack) — 15008-15058; CH position() takes
      // (haystack, needle), so the keyword form swaps the arguments
      if (up0 == "POSITION" && !isP(")")) {
        // parse below the comparison level so the IN keyword stays visible
        val e0 = parseAdd()
        if (eatKw("IN")) {
          val hay = parseExpr(); expectP(")")
          return FuncCall("position", Nil, Seq(hay, e0))
        }
        val rest =
          if (eatP(")")) Seq(e0)
          else { expectP(","); val a = parseExprList(); expectP(")"); e0 +: a }
        return FuncCall("position", Nil, rest)
      }
      // TRIM([BOTH|LEADING|TRAILING] ['x'] FROM e) — 15251-15283
      if (up0 == "TRIM" &&
          (isKw("BOTH") || isKw("LEADING") || isKw("TRAILING"))) {
        val fn = ident().toUpperCase(java.util.Locale.ROOT) match {
          case "BOTH" => "trimBoth"
          case "LEADING" => "trimLeft"
          case "TRAILING" => "trimRight"
        }
        val what = cur match {
          case TStr(s) => pos += 1; Some(StrLit(s))
          case _ => None
        }
        expectKw("FROM")
        val e0 = parseExpr(); expectP(")")
        return FuncCall(fn, Nil, Seq(e0) ++ what.toSeq)
      }
      val distinct = eatKw("DISTINCT")
      val args: Seq[Expr] =
        if (eatP(")")) Nil
        else { val a = parseExprList(); expectP(")"); a }
      val call =
        if (isP("(")) { // parametric aggregate: name(params)(args)
          expectP("(")
          val real: Seq[Expr] =
            if (eatP(")")) Nil
            else { val a = parseExprList(); expectP(")"); a }
          FuncCall(name, args, real, distinct)
        } else FuncCall(name, Nil, args, distinct)
      if (eatKw("OVER")) {
        if (isP("(")) parseOverClause(call)
        else WindowERef(call, ident()) // OVER w — named window reference
      } else call
    }

    private def parseOverClause(fn: FuncCall): WindowE = {
      val (partBy, ordBy, frame) = parseWindowSpec()
      WindowE(fn, partBy, ordBy, frame)
    }

    /** `( [PARTITION BY ...] [ORDER BY ...] [ROWS|RANGE BETWEEN ...] )` —
      * shared by inline OVER (...) and the named WINDOW clause. */
    def parseWindowSpec(): WinSpec = {
      expectP("(")
      var partBy: Seq[Expr] = Nil
      var ordBy: Seq[OrderItem] = Nil
      var frame: Option[(Boolean, Long, Long)] = None
      if (eatKw("PARTITION")) { expectKw("BY"); partBy = parseExprList() }
      if (eatKw("ORDER")) {
        expectKw("BY")
        val b = Seq.newBuilder[OrderItem]
        var more = true
        while (more) {
          val e = parseExpr()
          val asc =
            if (eatKw("DESC") || eatKw("DESCENDING")) false
            else { eatKw("ASC"); eatKw("ASCENDING"); true }
          val nf =
            if (eatKw("NULLS")) {
              if (eatKw("FIRST")) Some(true) else { expectKw("LAST"); Some(false) }
            } else None
          b += OrderItem(e, asc, nf)
          more = eatP(",")
        }
        ordBy = b.result()
      }
      val isRows = isKw("ROWS")
      if (eatKw("ROWS") || eatKw("RANGE")) {
        expectKw("BETWEEN")
        val lo = parseFrameBound(isLower = true)
        expectKw("AND")
        val hi = parseFrameBound(isLower = false)
        frame = Some((isRows, lo, hi))
      }
      expectP(")")
      (partBy, ordBy, frame)
    }

    private def parseFrameBound(isLower: Boolean): Long =
      if (eatKw("UNBOUNDED")) {
        if (eatKw("PRECEDING")) Long.MinValue
        else { expectKw("FOLLOWING"); Long.MaxValue }
      } else if (eatKw("CURRENT")) { expectKw("ROW"); 0L }
      else {
        val n = parseLong()
        if (eatKw("PRECEDING")) -n else { expectKw("FOLLOWING"); n }
      }

    private def parseCase(): Expr = {
      expectKw("CASE")
      val operand = if (isKw("WHEN")) None else Some(parseExpr())
      val branches = Seq.newBuilder[(Expr, Expr)]
      while (eatKw("WHEN")) {
        val c = parseExpr(); expectKw("THEN"); val v = parseExpr()
        branches += ((c, v))
      }
      val elseE = if (eatKw("ELSE")) Some(parseExpr()) else None
      expectKw("END")
      CaseE(operand, branches.result(), elseE)
    }

    private def parseCast(): Expr = {
      expectKw("CAST"); expectP("(")
      val e = parseExpr()
      val tp =
        if (eatKw("AS")) parseTypeName()
        else { expectP(","); cur match {
          case TStr(s) => pos += 1; s
          case _ => fail("expected type string in CAST(x, 'T')")
        } }
      expectP(")")
      CastE(e, tp)
    }

    /** Type name for CAST ... AS: identifier with optional (args) which we
      * re-serialize for ChTypes (e.g. Decimal(18, 2), Nullable(Int64)). */
    private def parseTypeName(): String = {
      val sb = new StringBuilder(ident())
      if (isP("(")) {
        var depth = 0
        var go = true
        while (go) {
          cur match {
            case TP("(") => depth += 1; sb.append('('); pos += 1
            case TP(")") =>
              depth -= 1; sb.append(')'); pos += 1; if (depth == 0) go = false
            case TP(",") => sb.append(", "); pos += 1
            case TNum(s) => sb.append(s); pos += 1
            case TStr(s) => sb.append('\'').append(s).append('\''); pos += 1
            case t: TId => sb.append(t.s); pos += 1
            case other => fail(s"unexpected token in type: $other")
          }
        }
      }
      sb.toString
    }

    // ---- select statement ----

    def parseSetOp(): SetOp = {
      var l: SetOp = One(parseSelect())
      var go = true
      while (go) {
        if (eatKw("UNION")) {
          val all = eatKw("ALL") || { eatKw("DISTINCT"); false }
          l = Combine("UNION", all, l, One(parseSelect()))
        } else if (eatKw("INTERSECT")) {
          val all = eatKw("ALL"); eatKw("DISTINCT")
          l = Combine("INTERSECT", all, l, One(parseSelect()))
        } else if (eatKw("EXCEPT")) {
          val all = eatKw("ALL"); eatKw("DISTINCT")
          l = Combine("EXCEPT", all, l, One(parseSelect()))
        } else go = false
      }
      l
    }

    def parseSelect(): SelectStmt = {
      var ctes = Map.empty[String, SetOp]
      var exprCtes = Map.empty[String, Expr]
      var recursiveCtes = Set.empty[String]
      if (eatKw("WITH")) {
        // WITH RECURSIVE (CH 24.4+ recursiveness marker): every
        // subquery CTE in the clause may self-reference
        val recursive = eatKw("RECURSIVE")
        var go = true
        while (go) {
          if (cur.isInstanceOf[TId] && !Reserved.contains(
              cur.asInstanceOf[TId].up) && kwAt(1, "AS") &&
              toks(pos + 2) == TP("(")) {
            // name AS (subquery) — but only when it IS a subquery
            val name = ident(); expectKw("AS"); expectP("(")
            if (isKw("SELECT") || isKw("WITH")) {
              ctes += name -> parseSetOp(); expectP(")")
              if (recursive) recursiveCtes += name
            } else { // name AS (expr): scalar alias written with parens
              val e = parseExpr(); expectP(")")
              exprCtes += name -> e
            }
          } else { // CH scalar form: expr AS name
            val e = parseExpr(); expectKw("AS"); val name = ident()
            exprCtes += name -> e
          }
          go = eatP(",")
        }
      }
      expectKw("SELECT")
      val distinct = eatKw("DISTINCT")
      val distinctOn: Seq[Expr] =
        if (distinct && eatKw("ON")) {
          expectP("("); val es = parseExprList(); expectP(")"); es
        } else Nil
      val items = parseSelectItems()
      var from: Option[Relation] = None
      val joins = Seq.newBuilder[JoinSpec]
      var arrayJoins: Seq[ArrayJoinItem] = Nil
      var leftArrayJoin = false
      var sample: Option[(Long, Long, Long)] = None
      if (eatKw("FROM")) {
        from = Some(parseRelation())
        // SAMPLE k/m [OFFSET o/m2] | SAMPLE fraction [OFFSET fraction]
        // (sampleClause, ClickHouseParser.py:11016-11083). A fraction maps
        // onto k/m with m = 1e6 — deterministic bucket sampling, not
        // Bernoulli; OFFSET shifts the read window through the keyspace
        // (two disjoint offsets partition it).
        if (eatKw("SAMPLE")) {
          // minZero: the OFFSET position accepts 0 (start of keyspace);
          // the SAMPLE ratio itself is (0,1] like ClickHouse — SAMPLE 0
          // would be an always-empty read and refuses.
          def ratio(what: String, allowBareInt: Boolean,
                    minZero: Boolean): (Long, Long) = {
            val a = cur match {
              case TNum(s) => pos += 1; s
              case other => fail(s"$what needs a number, got $other")
            }
            val r =
              if (a.contains('.')) {
                val f = a.toDouble
                if (f < 0 || f > 1) fail(s"$what fraction out of [0,1]: $a")
                (math.round(f * 1000000L), 1000000L)
              } else if (eatP("/")) (a.toLong, parseLong())
              else if (allowBareInt && a.toLong == 0L) (0L, 1L)
              else if (what == "SAMPLE" && a.toLong >= 1L)
                // SAMPLE n — approximate row-count form (sampleClause
                // 11016-11083): m=0 sentinel; the builder derives the
                // bucket fraction from the table's exact count (CH
                // scales n onto the keyspace via table-size stats)
                (a.toLong, 0L)
              else if (what == "SAMPLE")
                fail("SAMPLE 0 would read nothing — ratio must be in " +
                  "(0,1] or a row count >= 1")
              else fail(s"$what n (bare integer) is only supported on " +
                s"SAMPLE itself; use $what k/m or $what <fraction>")
            if (!minZero && r._1 == 0L)
              fail(s"$what ratio must be in (0,1] — got 0 (always empty)")
            // sampleBuckets computes in Int bucket space; an oversized
            // denominator would otherwise truncate into a wrong-but-
            // plausible window downstream (the m=0 row-count sentinel
            // derives its own 1e6 bucket space at build time)
            if (r._2 != 0L && (r._1 < 0 || r._2 <= 0 || r._1 > Int.MaxValue ||
                r._2 > Int.MaxValue))
              fail(s"$what ratio ${r._1}/${r._2} out of supported range " +
                s"(numerator/denominator must fit in [0, ${Int.MaxValue}])")
            r
          }
          val (k, m) = ratio("SAMPLE", allowBareInt = false, minZero = false)
          if (m == 0L && isKw("OFFSET"))
            fail("SAMPLE n OFFSET is not supported — the row-count form " +
              "has no stable offset keyspace; use SAMPLE k/m OFFSET o/m")
          val off =
            if (eatKw("OFFSET")) {
              val (o, m2) = ratio("OFFSET", allowBareInt = true,
                minZero = true)
              // scale the offset ratio onto the SAMPLE denominator's
              // bucket space; refuse silently-inexact windows. o and m
              // are each <= Int.MaxValue so o*m fits in Long via
              // multiplyExact (belt and braces against future widening).
              val om = Math.multiplyExact(o, m)
              if (om % m2 != 0)
                fail(s"SAMPLE OFFSET $o/$m2 is not a whole number of " +
                  s"1/$m buckets — use a compatible denominator")
              val ob = om / m2
              if (ob > Int.MaxValue)
                fail(s"SAMPLE OFFSET $o/$m2 scales to bucket $ob beyond " +
                  "the supported bucket space")
              if (ob + k > m)
                fail(s"SAMPLE $k/$m OFFSET $o/$m2 reads past the end of " +
                  "the keyspace (offset+sample > 1)")
              ob
            } else 0L
          sample = Some((k, m, off))
        }
        var go = true
        while (go) {
          // [LEFT] ARRAY JOIN
          if (isKw("ARRAY") || (isKw("LEFT") && kwAt(1, "ARRAY"))) {
            leftArrayJoin = eatKw("LEFT")
            expectKw("ARRAY"); expectKw("JOIN")
            val ajs = Seq.newBuilder[ArrayJoinItem]
            var more = true
            while (more) {
              val e = parseExpr()
              val alias =
                if (eatKw("AS")) Some(ident())
                else e match { case Ident(Seq(nm)) => Some(nm); case _ => None }
              ajs += ArrayJoinItem(e, alias)
              more = eatP(",")
            }
            arrayJoins = ajs.result()
          } else {
            parseJoinHead() match {
              case Some((jt, any, asof)) =>
                val rel = parseRelation()
                var on: Option[Expr] = None
                var using: Seq[String] = Nil
                if (eatKw("ON")) on = Some(parseExpr())
                else if (eatKw("USING")) {
                  val paren = eatP("(")
                  val cols = Seq.newBuilder[String]
                  cols += ident()
                  while (eatP(",")) cols += ident()
                  if (paren) expectP(")")
                  using = cols.result()
                } else if (jt != "cross" && jt != "paste")
                  fail("JOIN requires ON or USING")
                joins += JoinSpec(jt, any, rel, on, using, asof)
              case None => go = false
            }
          }
        }
      }
      val prewhere = if (eatKw("PREWHERE")) Some(parseExpr()) else None
      val where = if (eatKw("WHERE")) Some(parseExpr()) else None
      var groupBy: Seq[Expr] = Nil
      var groupByAll = false
      var withTotals = false
      var groupKind = "plain"
      var groupSets: Seq[Seq[Expr]] = Nil
      if (eatKw("GROUP")) {
        expectKw("BY")
        // GROUP BY ROLLUP(...) / CUBE(...) / GROUPING SETS ((..),(..),())
        // (groupByClause, ClickHouseParser.py:9812-9838)
        if (isKw("ROLLUP") && pAt(1, "(")) {
          advance(); expectP("("); groupBy = parseExprList(); expectP(")")
          groupKind = "rollup"
        } else if (isKw("CUBE") && pAt(1, "(")) {
          advance(); expectP("("); groupBy = parseExprList(); expectP(")")
          groupKind = "cube"
        } else if (isKw("GROUPING") && kwAt(1, "SETS")) {
          advance(); advance(); expectP("(")
          val sets = Seq.newBuilder[Seq[Expr]]
          var moreSets = true
          while (moreSets) {
            expectP("(")
            sets += (if (isP(")")) Nil else parseExprList())
            expectP(")")
            moreSets = eatP(",")
          }
          expectP(")")
          groupSets = sets.result()
          groupKind = "sets"
          // the key pool is the union of set members, first-seen order
          val seen = scala.collection.mutable.LinkedHashSet.empty[Expr]
          groupSets.foreach(_.foreach(seen += _))
          groupBy = seen.toSeq
        } else if (eatKw("ALL")) groupByAll = true
        else groupBy = parseExprList()
        if (eatKw("WITH")) {
          // WITH TOTALS | WITH ROLLUP | WITH CUBE modifier forms
          if (eatKw("TOTALS")) withTotals = true
          else if (eatKw("ROLLUP")) groupKind = "rollup"
          else { expectKw("CUBE"); groupKind = "cube" }
        }
      }
      val having = if (eatKw("HAVING")) Some(parseExpr()) else None
      // WINDOW w AS (spec), ... (windowClause; referenced via OVER w)
      var windows: Map[String, WinSpec] = Map.empty
      if (eatKw("WINDOW")) {
        var more = true
        while (more) {
          val nm = ident()
          expectKw("AS")
          windows += nm -> parseWindowSpec()
          more = eatP(",")
        }
      }
      // QUALIFY expr (filter on window-function results; CH 23.3+ /
      // qualifyClause) — sits between WINDOW and ORDER BY
      val qualify = if (eatKw("QUALIFY")) Some(parseExpr()) else None
      var orderBy: Seq[OrderItem] = Nil
      if (eatKw("ORDER")) {
        expectKw("BY")
        // ORDER BY ALL (CH 23.12+): every select item, left to right —
        // items with an output name sort by that name (aliases included),
        // expression items by their expression
        if (isKw("ALL") && !kwAt(1, "AND") && !kwAt(1, "OR")) {
          advance()
          val asc =
            if (eatKw("DESC") || eatKw("DESCENDING")) false
            else { eatKw("ASC"); eatKw("ASCENDING"); true }
          orderBy = items.collect {
            case SelectItem(e, alias) if e != Star =>
              OrderItem(alias.map(a => Ident(Seq(a)): Expr).getOrElse(e),
                asc, None)
          }
        } else {
        val b = Seq.newBuilder[OrderItem]
        var more = true
        while (more) {
          val e = parseExpr()
          val asc =
            if (eatKw("DESC") || eatKw("DESCENDING")) false
            else { eatKw("ASC"); eatKw("ASCENDING"); true }
          val nf =
            if (eatKw("NULLS")) {
              if (eatKw("FIRST")) Some(true)
              else { expectKw("LAST"); Some(false) }
            } else None
          // ORDER BY e COLLATE 'locale' (orderExpr,
          // ClickHouseParser.py:10048-10102)
          val coll =
            if (eatKw("COLLATE")) cur match {
              case TStr(s) => pos += 1; Some(s)
              case other => fail(s"COLLATE needs a string literal, got $other")
            } else None
          // ORDER BY e WITH FILL [FROM a] [TO b] [STEP s]
          //   [INTERPOLATE (col, ...)]
          // (orderExprList fill forms, ClickHouseParser.py:10048-10102)
          val fill =
            if (eatKw("WITH")) {
              expectKw("FILL")
              val from = if (eatKw("FROM")) Some(parseExpr()) else None
              val to = if (eatKw("TO")) Some(parseExpr()) else None
              val step = if (eatKw("STEP")) Some(parseExpr()) else None
              val interp =
                if (eatKw("INTERPOLATE")) {
                  expectP("(")
                  val cols = Seq.newBuilder[String]
                  cols += ident()
                  while (eatP(",")) cols += ident()
                  expectP(")")
                  cols.result()
                } else Nil
              Some(FillSpec(from, to, step, interp))
            } else None
          b += OrderItem(e, asc, nf, fill, coll)
          more = eatP(",")
        }
        orderBy = b.result()
        }
      }
      var limitBy: Option[(Long, Long, Seq[Expr])] = None
      var limit: Option[Long] = None
      var offset: Option[Long] = None
      var limitTies = false
      while (eatKw("LIMIT")) {
        val a = parseLong()
        if (eatP(",")) { // CH: LIMIT offset, count [BY exprs]
          val b = parseLong()
          if (eatKw("BY")) limitBy = Some((a, b, parseExprList()))
          else { offset = Some(a); limit = Some(b) }
        } else if (eatKw("BY")) {
          limitBy = Some((0L, a, parseExprList()))
        } else {
          limit = Some(a)
          // LIMIT n WITH TIES (limitClause, ClickHouseParser.py:9918-9960)
          if (isKw("WITH") && kwAt(1, "TIES")) { advance(); advance(); limitTies = true }
        }
      }
      // OFFSET n [ROW|ROWS] [FETCH FIRST|NEXT m [ROW|ROWS] ONLY|WITH TIES]
      // (the SQL-standard fetch clause CH also accepts) — plain
      // `OFFSET n` is the CH short form
      def parseFetch(): Unit = {
        if (!eatKw("FIRST")) expectKw("NEXT")
        limit = Some(parseLong())
        if (!eatKw("ROWS")) eatKw("ROW")
        if (!eatKw("ONLY")) {
          expectKw("WITH"); expectKw("TIES"); limitTies = true
        }
      }
      if (eatKw("OFFSET")) {
        offset = Some(parseLong())
        if (!eatKw("ROWS")) eatKw("ROW")
        if (eatKw("FETCH")) parseFetch()
      } else if (eatKw("FETCH")) parseFetch()
      var settings: Seq[(String, String)] = Nil
      if (eatKw("SETTINGS")) {
        val b = Seq.newBuilder[(String, String)]
        var more = true
        while (more) {
          val k = ident(); expectP("=")
          val v = cur match {
            case TNum(s) => pos += 1; s
            case TStr(s) => pos += 1; s
            case t: TId => pos += 1; t.s
            case other => fail(s"bad setting value: $other")
          }
          b += ((k, v))
          more = eatP(",")
        }
        settings = b.result()
      }
      // INTO OUTFILE 'path' [FORMAT f] | standalone FORMAT f
      // (intoOutfileClause + formatClause, ClickHouseParser.py:1765-1775)
      var outfile: Option[(String, String)] = None
      var format: Option[String] = None
      if (eatKw("INTO")) {
        expectKw("OUTFILE")
        val path = cur match {
          case TStr(s) => pos += 1; s
          case other => fail(s"INTO OUTFILE needs a path string, got $other")
        }
        val fmt = if (eatKw("FORMAT")) ident() else "parquet"
        outfile = Some((path, fmt))
      } else if (eatKw("FORMAT")) format = Some(ident())
      SelectStmt(distinct, distinctOn, items, from, joins.result(), arrayJoins,
        leftArrayJoin, prewhere, where, groupBy, groupByAll, withTotals,
        having, orderBy, limitBy, limit, offset, settings, ctes, exprCtes,
        outfile, groupKind, groupSets, limitTies, sample, format, windows,
        recursiveCtes, qualify)
    }

    private def pos_advance(): Unit = pos += 1

    private def parseLong(): Long = cur match {
      case TNum(s) => pos += 1; s.toLong
      case _ => fail("expected integer")
    }

    private def parseSelectItems(): Seq[SelectItem] = {
      val b = Seq.newBuilder[SelectItem]
      var more = true
      while (more) {
        val e0 = parseExpr()
        // `* / COLUMNS('re')` star modifiers: EXCEPT (cols) and APPLY(f).
        // `EXCEPT (` here is a column list, not the set operation — the
        // set-op form is always followed by SELECT/WITH.
        val e = e0 match {
          case Star | _: StarMod =>
            var exc: Seq[String] = Nil
            var ap: Option[String] = None
            if (isKw("EXCEPT") && pAt(1, "(") &&
                !kwAt(2, "SELECT") && !kwAt(2, "WITH")) {
              advance(); expectP("(")
              val cols = Seq.newBuilder[String]
              cols += ident()
              while (eatP(",")) cols += ident()
              expectP(")")
              exc = cols.result()
            }
            if (isKw("APPLY") && pAt(1, "(")) {
              advance(); expectP("("); ap = Some(ident()); expectP(")")
            }
            if (exc.isEmpty && ap.isEmpty) e0
            else e0 match {
              case Star => StarMod(None, exc, ap)
              case StarMod(re, _, _) => StarMod(re, exc, ap)
              case other => other
            }
          case other => other
        }
        val alias = optAlias()
        b += SelectItem(e, alias)
        more = eatP(",")
      }
      b.result()
    }

    private def parseRelation(): Relation = {
      if (eatP("(")) {
        val sel = parseSetOp(); expectP(")")
        val alias = optAlias()
        SubqueryRel(sel, alias)
      } else {
        val parts = Seq.newBuilder[String]
        parts += ident()
        // table function: a single bare name directly followed by ( ... )
        if (parts.result().size == 1 && isP("(")) {
          val fname = parts.result().head
          expectP("(")
          val fargs = if (isP(")")) Nil else parseExprList()
          expectP(")")
          val alias = optAlias()
          return TableFuncRel(fname, fargs, alias)
        }
        while (isP(".") && toks(pos + 1).isInstanceOf[TId]) { pos += 1; parts += ident() }
        val name = parts.result().mkString(".")
        val fin = eatKw("FINAL")
        val alias = optAlias()
        TableRef(name, alias, fin)
      }
    }

    /** Returns Some((sparkJoinType, isAny, isAsof)) if the upcoming tokens
      * open a join clause; consumes them. */
    private def parseJoinHead(): Option[(String, Boolean, Boolean)] = {
      val start = pos
      eatKw("GLOBAL")
      var any = eatKw("ANY")
      var asof = eatKw("ASOF")
      var jt: Option[String] = None
      if (eatKw("INNER")) jt = Some("inner")
      else if (eatKw("LEFT")) {
        if (eatKw("SEMI")) jt = Some("left_semi")
        else if (eatKw("ANTI")) jt = Some("left_anti")
        else { eatKw("OUTER"); jt = Some("left") }
      } else if (eatKw("RIGHT")) { eatKw("OUTER"); jt = Some("right") }
      else if (eatKw("FULL")) { eatKw("OUTER"); jt = Some("full") }
      else if (eatKw("CROSS")) jt = Some("cross")
      else if (eatKw("PASTE")) jt = Some("paste")
      else if (eatKw("SEMI")) jt = Some("left_semi")
      else if (eatKw("ANTI")) jt = Some("left_anti")
      if (!any) any = eatKw("ANY")
      if (!asof) asof = eatKw("ASOF") // LEFT ASOF JOIN form
      if (eatKw("JOIN")) Some((jt.getOrElse("inner"), any, asof))
      else { pos = start; None }
    }
  }

  // ===================== function registry =====================

  /** CH aggregate-function names (lowercase) — used both by the builder
    * and by the aggregate-detection walk. */
  private[chsql] val AggNames: Set[String] = Set(
    "count", "countif", "countdistinct", "sum", "sumif", "avg", "avgif",
    "min", "minif", "max", "maxif", "any", "anylast", "argmax", "argmin",
    "uniq", "uniqexact", "uniqcombined", "uniqhll12", "grouparray",
    "groupuniqarray", "quantile", "quantileexact", "quantiles", "median",
    "stddevpop", "stddevsamp", "varpop", "varsamp", "corr", "covarpop",
    "covarsamp", "avgweighted", "topk", "groupbitand", "groupbitor",
    "groupbitmap", "groupbitxor", "skewpop", "kurtpop", "summap",
    "minmap", "maxmap", "cramersv", "contingency", "theilsu",
    "sequencematch",
    "sequencecount", "uniqupto", "windowfunnel", "retention",
    "sumarray", "minarray", "maxarray", "avgarray", "countarray",
    "uniqarray", "grouparrayarray", "quantiletiming", "quantilestiming",
    "quantiletdigest", "quantilestdigest", "quantilebfloat16",
    "singlevalueornull", "boundingratio", "entropy", "skewsamp", "kurtsamp",
    "uniqtheta", "sumkahan", "sumcount", "anyheavy",
    "simplelinearregression", "corrstable", "covarpopstable",
    "covarsampstable")

  // aggregates that return 0 (not NULL) over an empty group — the set the
  // -OrNull combinator must map 0 → NULL for
  private val CountLikeAggs: Set[String] = Set(
    "count", "countif", "countdistinct", "uniq", "uniqexact",
    "uniqcombined", "uniqhll12", "uniqtheta", "countarray", "uniqarray",
    "groupbitmap")

  // combinator suffixes strip recursively (CH chains them: sumIfOrNull,
  // countDistinctForEach, ...); each entry is (suffix, its length)
  private val AggSuffixes: Seq[(String, Int)] = Seq(
    "if" -> 2, "state" -> 5, "merge" -> 5, "ornull" -> 6,
    "ordefault" -> 9, "distinct" -> 8, "foreach" -> 7)

  private def isAggName(name: String): Boolean = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    AggNames.contains(n) || AggSuffixes.exists { case (suf, len) =>
      n.endsWith(suf) && n.length > len && isAggName(n.dropRight(len))
    }
  }

  // ===================== planner =====================

  /** Parse + plan `text` into a DataFrame; `resolve` maps table names to
    * DataFrames (e.g. `name => spark.read.parquet(s"$dir/$name.parquet")`). */
  def sql(spark: SparkSession, text: String)(resolve: String => DataFrame): DataFrame =
    sqlWithFormat(spark, text)(resolve)._1

  /** Like [[sql]], also returning the trailing `FORMAT f` clause (if any)
    * so a display surface (the [[graft.Sql]] CLI) can honor the requested
    * wire format. The DataFrame itself is format-agnostic. */
  def sqlWithFormat(spark: SparkSession, text: String)(
      resolve: String => DataFrame): (DataFrame, Option[String]) =
    withFormat(spark, new Cur(text).query())(resolve)

  private def withFormat(spark: SparkSession, ast: SetOp)(
      resolve: String => DataFrame): (DataFrame, Option[String]) = {
    def fmt(op: SetOp): Option[String] = op match {
      case One(s) => s.format
      case Combine(_, _, l, r) => fmt(r).orElse(fmt(l))
    }
    (plan(spark, ast)(resolve), fmt(ast))
  }

  /** Plan a parsed query. */
  private[chsql] def plan(spark: SparkSession, ast: SetOp)(
      resolve: String => DataFrame): DataFrame =
    buildSetOp(spark, ast, resolve, Map.empty)

  /** Resolve tables through the session catalog (temp views etc.). */
  def sqlCatalog(spark: SparkSession, text: String): DataFrame =
    sql(spark, text)(spark.table)

  /** Statement-level dispatch, one front end for queryStmt, ddlStmt and
    * the admin heads: the text is lexed once and routed on its leading
    * keyword tokens.
    *  - `EXPLAIN [AST|SYNTAX|PLAN|PIPELINE|ESTIMATE|QUERY TREE] select` →
    *    one `explain` string column ([[graft.plans.ExplainOps]] layers)
    *  - `DESCRIBE|DESC [TABLE] t` → CH type names
    *  - `SET name = value, ...` → [[graft.plans.Settings]] session confs
    *  - `INSERT INTO FUNCTION file('path'[, 'Format']) select` → file sink
    *  - `CREATE [OR REPLACE] VIEW name AS select` → temp view (callers
    *    resolving catalog-first — [[graft.Sql]] does — can query it)
    *  - DDL/DML/admin heads → [[ChDdl.dispatch]]
    *  - anything else is a query (`SELECT`/`WITH`/`(`)
    * Returns (result, FORMAT clause) — DDL/SET yield a one-column status. */
  def statement(spark: SparkSession, text: String)(
      resolve: String => DataFrame): (DataFrame, Option[String]) =
    statement(spark, new Cur(text))(resolve)

  private[graft] def statement(spark: SparkSession, c: Cur)(
      resolve: String => DataFrame): (DataFrame, Option[String]) = {
    import spark.implicits._
    def status(msg: String) = (Seq(msg).toDF("status"), None)
    if (c.eatKw("EXPLAIN")) {
      // explainStmt variants (ClickHouseParser.py:7487-7605): QUERY TREE
      // is the analyzer-IR layer; TABLE OVERRIDE inspects an
      // external-engine column override this engine does not have —
      // refuse honestly rather than print something unrelated
      if (c.isKw("TABLE", "OVERRIDE"))
        fail("EXPLAIN TABLE OVERRIDE is not supported: table overrides " +
          "apply to external database engines (MySQL/MaterializedMySQL); " +
          "this engine has no external engine to override")
      val variant =
        if (c.eatKw("QUERY", "TREE")) "QUERY TREE"
        else Seq("AST", "SYNTAX", "PLAN", "PIPELINE", "ESTIMATE")
          .find(c.eatKw(_)).getOrElse("PLAN")
      if (c.atEnd) fail("EXPLAIN needs a SELECT")
      val df = plan(spark, c.query())(resolve)
      (graft.plans.ExplainOps.explainText(df, variant)
        .split('\n').toSeq.toDF("explain"), None)
    } else if (c.eatKw("DESCRIBE") || c.eatKw("DESC")) {
      // DESCRIBE [TABLE] t (describeStmt) — CH type names via the
      // canonical inverse mapping (ChTypes.toCh)
      c.eatKw("TABLE")
      val name = c.name("DESCRIBE needs a table name")
      c.done()
      val fields = resolve(name).schema.fields.toSeq
      (fields.map(fld =>
        (fld.name, graft.model.ChTypes.toCh(fld.dataType, fld.nullable)))
        .toDF("name", "type"), None)
    } else if (c.isKw("SET")) {
      val (applied, skipped) = graft.plans.Settings.applySet(
        spark, graft.plans.Settings.parseSet(c))
      val rows = applied.toSeq.sorted.map { case (k, v) => s"set $k=$v" } ++
        skipped.map(s => s"skipped $s (no Spark twin)")
      ((if (rows.isEmpty) Seq("ok") else rows).toDF("status"), None)
    } else if (c.eatKw("INSERT", "INTO", "FUNCTION")) {
      // INSERT INTO FUNCTION file('path'[, 'Format']) select — the
      // table-function write path (insertStmt → tableFunctionExpr)
      if (!c.eatKw("FILE")) fail(
        "only INSERT INTO FUNCTION file('path'[, 'Format']) SELECT ... is supported")
      c.expectP("(")
      val path = c.str("a file path string")
      val fmt = if (c.eatP(",")) c.str("a format name string") else "parquet"
      c.expectP(")")
      graft.sources.Sinks.intoOutfile(plan(spark, c.query())(resolve), path, fmt)
      status(s"wrote $path ($fmt)")
    } else if (c.isKw("CREATE", "VIEW") || c.isKw("CREATE", "OR", "REPLACE", "VIEW")) {
      c.pos = if (c.word(1) == "OR") 4 else 2
      val name = c.ident("a view name")
      c.expectKw("AS")
      val (from, until) = c.rest()
      val ast = c.query(from, until)
      // a {p:Type} reference anywhere makes this a PARAMETERIZED view:
      // register the TEXT, bind per read via `FROM v(p = ...)`
      if (hasParams(ast)) {
        paramViews.put(name, c.slice(from, until))
        status(s"parameterized view $name created")
      } else {
        paramViews.remove(name)
        plan(spark, ast)(resolve).createOrReplaceTempView(name)
        status(s"view $name created")
      }
    } else ChDdl.dispatch(spark, c)(resolve) match {
      case Some(df) => (df, None)
      case None =>
        val ast = c.query()
        // a registered, materialized projection whose shape covers this
        // SELECT answers from its (much smaller) materialized table — the
        // CH projection-substitution optimization
        ChDdl.substituteProjection(spark, ast).map((_, Option.empty[String]))
          .getOrElse(withFormat(spark, ast)(resolve))
    }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"ChSql: $msg")

  /** Parameterized views (CH 23.1+): `CREATE VIEW v AS SELECT ...
    * {p:Type}` defers — the TEXT is registered here and bound per read
    * as `FROM v(p = literal)`. Session-scoped like CH. */
  private[chsql] val paramViews =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** SQL user-defined functions (createFunctionStmt — `CREATE FUNCTION
    * name AS (params) -> expr`): executable lambda macros. The body is
    * parsed ONCE at CREATE and expanded at translation time with the
    * call's argument Columns bound to the parameter names — pure
    * AST-to-Column substitution, zero runtime UDFs, so every expansion
    * inlines into whole-stage codegen exactly like a built-in. Values:
    * (params, body AST, original lambda text for SHOW CREATE).
    * Session-scoped like CH. */
  private[chsql] val sqlFuncs = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[String], Expr, String)]

  /** Guard against mutually-recursive SQL functions (a→b→a after a
    * redefinition slips past the create-time self-reference check). */
  private val macroDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  /** Parse a `CREATE FUNCTION` body: a lambda `(a, b) -> expr` (or the
    * unparenthesized single-parameter form `x -> expr`). Aggregates are
    * rejected inside the body — CH SQL UDFs are row-scalar, and an
    * aggregate would silently change the caller's query classification. */
  private[chsql] def parseFunctionBody(name: String, e: Expr)
      : (Seq[String], Expr) = {
    val (params, body) = e match {
      case LambdaE(ps, b) => (ps, b)
      case _ => throw new IllegalArgumentException(
        "ChSql: CREATE FUNCTION body must be a lambda `(args) -> expr`")
    }
    def walk(x: Expr): Unit = x match {
      case FuncCall(n, ps2, as2, _) =>
        val l = n.toLowerCase(java.util.Locale.ROOT)
        if (l == name.toLowerCase(java.util.Locale.ROOT)) throw new IllegalArgumentException(
          s"ChSql: CREATE FUNCTION $name: recursive functions are not supported")
        if (AggNames.contains(l)) throw new IllegalArgumentException(
          s"ChSql: CREATE FUNCTION $name: aggregate function $n is not " +
            "allowed in a SQL function body (row-scalar lambdas only)")
        (ps2 ++ as2).foreach(walk)
      case Bin(_, l2, r2) => walk(l2); walk(r2)
      case Neg(x2) => walk(x2)
      case NotE(x2) => walk(x2)
      case IsNullE(x2, _) => walk(x2)
      case InList(x2, is, _) => walk(x2); is.foreach(walk)
      case BetweenE(x2, lo, hi, _) => walk(x2); walk(lo); walk(hi)
      case CaseE(op, br, el) =>
        op.foreach(walk); br.foreach { case (c, v) => walk(c); walk(v) }
        el.foreach(walk)
      case CastE(x2, _) => walk(x2)
      case Idx(x2, i) => walk(x2); walk(i)
      case ArrayLit(is) => is.foreach(walk)
      case TupleLit(is) => is.foreach(walk)
      case LambdaE(_, b) => walk(b)
      case _ =>
    }
    walk(body)
    (params, body)
  }

  /** Does the parsed statement reference any `{name:Type}` parameter? */
  private def hasParams(op0: SetOp): Boolean = {
    var found = false
    def wSet(o: SetOp): Unit = o match {
      case One(s) => wSel(s)
      case Combine(_, _, l, r) => wSet(l); wSet(r)
    }
    def wSel(s: SelectStmt): Unit = {
      (s.items.map(_.e) ++ s.prewhere ++ s.where ++ s.having ++ s.qualify ++
        s.groupBy ++ s.orderBy.map(_.e) ++ s.limitBy.toSeq.flatMap(_._3) ++
        s.arrayJoins.map(_.e) ++ s.exprCtes.values ++ s.joins.flatMap(_.on) ++
        s.groupSets.flatten ++ s.distinctOn).foreach(wE)
      s.ctes.values.foreach(wSet)
      (s.from.toSeq ++ s.joins.map(_.rel)).foreach(wRel)
    }
    def wRel(r: Relation): Unit = r match {
      case SubqueryRel(sel, _) => wSet(sel)
      case TableFuncRel(_, as, _) => as.foreach(wE)
      case _ =>
    }
    def wE(e: Expr): Unit = e match {
      case ParamE(_, _) => found = true
      case FuncCall(_, ps, as, _) => (ps ++ as).foreach(wE)
      case Bin(_, l, r) => wE(l); wE(r)
      case Neg(x) => wE(x)
      case NotE(x) => wE(x)
      case IsNullE(x, _) => wE(x)
      case CastE(x, _) => wE(x)
      case Idx(a, b) => wE(a); wE(b)
      case InList(x, is, _) => (x +: is).foreach(wE)
      case BetweenE(x, lo, hi, _) => Seq(x, lo, hi).foreach(wE)
      case CaseE(op2, br, el) => (op2.toSeq ++
        br.flatMap(b => Seq(b._1, b._2)) ++ el.toSeq).foreach(wE)
      case ArrayLit(is) => is.foreach(wE)
      case TupleLit(is) => is.foreach(wE)
      case LambdaE(_, b) => wE(b)
      case IntervalE(n, _) => wE(n)
      case WindowE(fn, pb, ob, _) =>
        (fn +: pb).foreach(wE); ob.map(_.e).foreach(wE)
      case WindowERef(fn, _) => wE(fn)
      case InSub(x, sub, _) => wE(x); wSet(sub)
      case QuantCmp(_, x, _, sub) => wE(x); wSet(sub)
      case ScalarSub(sub) => wSet(sub)
      case ExistsSub(sub) => wSet(sub)
      case _ =>
    }
    wSet(op0)
    found
  }

  /** First REAL table referenced in a SELECT's FROM chain — the MV source
    * table ([[ChDdl]] binds it to the stream input; a CH MV has exactly
    * one source). CTE names are not tables: a FROM that references a CTE
    * resolves through the CTE's body to the underlying table. */
  private[chsql] def firstTable(ast: SetOp): Option[String] = {
    def walk(op: SetOp, ctes: Map[String, SetOp]): Option[String] = op match {
      case One(s) =>
        val scope = ctes ++ s.ctes
        def fromRel(r: Relation): Option[String] = r match {
          case TableRef(n, _, _) =>
            scope.get(n) match {
              case Some(body) => walk(body, scope - n) // resolve through the CTE
              case None => Some(n)
            }
          case SubqueryRel(sel, _) => walk(sel, scope)
          case _ => None
        }
        s.from.flatMap(fromRel)
          .orElse(s.ctes.values.flatMap(walk(_, scope)).headOption)
      case Combine(_, _, l, r) => walk(l, ctes).orElse(walk(r, ctes))
    }
    walk(ast, Map.empty)
  }

  /** Every real table referenced anywhere in a parsed SELECT/WITH
    * statement ([[Cur.query]], which refuses trailing tokens) — the
    * AST-exact lineage source ([[graft.functions.LineageExtractor]]'s
    * exact tier). Walks relations (FROM + every JOIN), subqueries in
    * relations AND expressions (IN/scalar/EXISTS), and CTE bodies. CTE
    * names shadow unqualified refs in their scope (and, unlike the
    * best-effort heuristic, a *qualified* `db.x` is kept even when a CTE
    * is also named `x` — qualified refs bypass CTEs in CH). Table
    * functions are relations but not tables — excluded. Sorted distinct. */
  def referencedTables(ast: SetOp): Seq[String] = {
    val out = scala.collection.mutable.Set[String]()
    def walkSetOp(op: SetOp, scope: Set[String]): Unit = op match {
      case One(s) => walkSelect(s, scope)
      case Combine(_, _, l, r) => walkSetOp(l, scope); walkSetOp(r, scope)
    }
    def walkSelect(s: SelectStmt, outer: Set[String]): Unit = {
      val scope = outer ++ s.ctes.keys
      s.ctes.values.foreach(walkSetOp(_, scope))
      def rel(r: Relation): Unit = r match {
        case TableRef(n, _, _) =>
          if (n.contains('.') || !scope.contains(n)) out += n
        case SubqueryRel(sel, _) => walkSetOp(sel, scope)
        case _: TableFuncRel => // parens rule: a table function is no table
      }
      s.from.foreach(rel)
      s.joins.foreach(j => rel(j.rel))
      val exprs: Seq[Expr] =
        s.items.map(_.e) ++ s.prewhere ++ s.where ++ s.groupBy ++
          s.having ++ s.qualify ++ s.orderBy.map(_.e) ++ s.arrayJoins.map(_.e) ++
          s.groupSets.flatten ++ s.limitBy.toSeq.flatMap(_._3) ++
          s.exprCtes.values ++ s.joins.flatMap(_.on) // ON-clause subqueries
      exprs.foreach(walkExpr(_, scope))
    }
    def walkExpr(e: Expr, scope: Set[String]): Unit = e match {
      case InSub(x, sub, _) => walkExpr(x, scope); walkSetOp(sub, scope)
      case QuantCmp(_, x, _, sub) => walkExpr(x, scope); walkSetOp(sub, scope)
      case ScalarSub(sub) => walkSetOp(sub, scope)
      case ExistsSub(sub) => walkSetOp(sub, scope)
      case FuncCall(_, ps, as, _) => (ps ++ as).foreach(walkExpr(_, scope))
      case Bin(_, l, r) => walkExpr(l, scope); walkExpr(r, scope)
      case Neg(x) => walkExpr(x, scope)
      case NotE(x) => walkExpr(x, scope)
      case IsNullE(x, _) => walkExpr(x, scope)
      case InList(x, items, _) => (x +: items).foreach(walkExpr(_, scope))
      case BetweenE(x, lo, hi, _) =>
        Seq(x, lo, hi).foreach(walkExpr(_, scope))
      case CaseE(op, br, el) =>
        (op.toSeq ++ br.flatMap(b => Seq(b._1, b._2)) ++ el.toSeq)
          .foreach(walkExpr(_, scope))
      case LambdaE(_, body) => walkExpr(body, scope)
      case ArrayLit(items) => items.foreach(walkExpr(_, scope))
      case TupleLit(items) => items.foreach(walkExpr(_, scope))
      case CastE(x, _) => walkExpr(x, scope)
      case IntervalE(nE, _) => walkExpr(nE, scope)
      case Idx(x, i) => walkExpr(x, scope); walkExpr(i, scope)
      case WindowE(fn, partBy, ordBy, _) =>
        (fn +: partBy) ++ ordBy.map(_.e) foreach (walkExpr(_, scope))
      case WindowERef(fn, _) => walkExpr(fn, scope)
      case _ =>
    }
    walkSetOp(ast, Set.empty)
    out.toSeq.sorted
  }

  /** Compile one standalone CH expression string to a Column — the hook
    * the DDL/DML layer ([[ChDdl]]) uses for ALTER predicates, UPDATE
    * assignments and VALUES literals. Shares the full expression grammar
    * (and translator registry) with the SELECT path. */
  private[chsql] def compileExpr(spark: SparkSession, text: String,
      resolve: String => DataFrame): Column =
    compileExpr(spark, new Cur(text).expr(), resolve)

  private[chsql] def compileExpr(spark: SparkSession, e: Expr,
      resolve: String => DataFrame): Column =
    new Translator(spark, resolve, Map.empty, Map.empty, buildSetOp).apply(e)

  private def buildSetOp(spark: SparkSession, op: SetOp,
      resolve: String => DataFrame, ctes: Map[String, DataFrame]): DataFrame =
    op match {
      case One(s) => buildSelect(spark, s, resolve, ctes)
      case Combine(o, all, l, r) =>
        val lf = buildSetOp(spark, l, resolve, ctes)
        val rf = buildSetOp(spark, r, resolve, ctes)
        o match {
          case "UNION" => if (all) lf.unionByName(rf) else lf.unionByName(rf).distinct()
          case "INTERSECT" => if (all) lf.intersectAll(rf) else lf.intersect(rf)
          case "EXCEPT" => if (all) lf.exceptAll(rf) else lf.except(rf)
        }
    }

  /** `WITH RECURSIVE name AS (base UNION [ALL] step)`: Spark has no
    * recursive-CTE operator, so the semantics execute as the standard
    * iterate-to-fixpoint loop — the same driver-side discipline as
    * [[graft.operators.Dedup.connectedComponents]]:
    *
    *  - working table := base; each round evaluates `step` with the CTE
    *    name bound to LAST round's rows only (SQL's working-table rule,
    *    not the accumulated set), appends, and repeats until the round
    *    produces nothing.
    *  - UNION (distinct) additionally subtracts already-seen rows each
    *    round — the linear-recursion termination guarantee; UNION ALL
    *    terminates only if the data does (the depth cap catches cycles,
    *    mirroring CH's max_recursive_cte_evaluation_depth).
    *  - each round's frontier is localCheckpoint'ed: the plan stays
    *    O(1)-deep per round instead of nesting (an un-checkpointed loop
    *    re-derives every prior round each action — exponential).
    *
    * One materializing action per round; rounds = recursion depth, so a
    * depth-d hierarchy costs d small jobs, not d scans of the base. */
  private def buildRecursiveCte(spark: SparkSession, name: String,
      sub: SetOp, resolve: String => DataFrame,
      outerCtes: Map[String, DataFrame]): DataFrame = {
    val (base, step, all) = sub match {
      case Combine("UNION", a, l, r) => (l, r, a)
      case _ => throw new IllegalArgumentException(
        s"ChSql: recursive CTE $name needs `base UNION [ALL] step`")
    }
    val maxDepth = 1000 // CH max_recursive_cte_evaluation_depth default
    val base0 = buildSetOp(spark, base, resolve, outerCtes)
    // r15 job-shape rework (guide §2.4/§1.2): the old loop re-checkpointed
    // the ACCUMULATED set every round — O(depth²) rows copied and ~4
    // materializing jobs per round, profiled as 3.6k tasks for an
    // 11-round scalar recursion. Rounds now checkpoint ONLY the frontier
    // and collect the per-round frontiers, unioned once at the end
    // (each leaf is already materialized, so the union is cheap and the
    // plan stays depth-1-per-leaf). The UNION-distinct leg still needs
    // the accumulated set each round for `except`; it references the
    // running union of checkpointed leaves and re-checkpoints it only
    // every `reanchorEvery` rounds to bound plan width. Frontier
    // partition counts are derived from the PREVIOUS round's row count
    // (narrow coalesce — one task per ~10k rows) instead of inheriting
    // the base's cluster-constant partitioning forever: a scalar
    // recursion runs 1-task rounds, a wide one keeps its fan-out.
    var frontier = base0
    var acc = if (all) base0 else base0.distinct()
    var accParts = Vector.empty[org.apache.spark.sql.DataFrame]
    var frontierN = -1L
    def checkpointSized(df: org.apache.spark.sql.DataFrame,
        prevRows: Long): org.apache.spark.sql.DataFrame = {
      val np = df.rdd.getNumPartitions
      val target =
        if (prevRows < 0) np
        else math.max(1L, math.min(np.toLong, prevRows / 10000L + 1L)).toInt
      // LAZY checkpoint: the caller's count() right after materializes
      // it, so each round pays ONE job (count-and-persist), not two
      (if (target < np) df.coalesce(target.toInt) else df)
        .localCheckpoint(false)
    }
    frontier = checkpointSized(frontier, -1L)
    if (!all) acc = frontier
    accParts = Vector(frontier)
    frontierN = frontier.count()
    var depth = 0
    var sinceAnchor = 0
    val reanchorEvery = 16
    while (frontierN > 0) {
      depth += 1
      if (depth > maxDepth) throw new IllegalArgumentException(
        s"ChSql: recursive CTE $name exceeded $maxDepth iterations " +
          "(cyclic UNION ALL recursion?)")
      val produced = buildSetOp(spark, step, resolve,
        outerCtes + (name -> frontier))
      val next = checkpointSized(
        if (all) produced else produced.except(acc), frontierN)
      frontierN = next.count()
      frontier = next
      if (frontierN > 0) {
        accParts = accParts :+ next
        if (!all) {
          sinceAnchor += 1
          if (sinceAnchor >= reanchorEvery) {
            acc = accParts.reduce(_ unionByName _).localCheckpoint(true)
            accParts = Vector(acc)
            sinceAnchor = 0
          } else acc = acc.unionByName(next)
        }
      }
    }
    accParts.reduce(_ unionByName _)
  }

  /** CH `SETTINGS` is statement-scoped; Spark confs are session-scoped.
    * Wrapping the build in set→run→restore keeps the session clean and
    * gives plan-time confs (timezone resolution, cross-join permission,
    * join-strategy preference: Spark analyzes eagerly at Dataset
    * construction) the statement-local scope CH has. Confs consumed only
    * at action time (e.g. shuffle partition count) see the restored
    * session values — documented divergence, the honest Spark scoping. */
  private def buildSelect(spark: SparkSession, s: SelectStmt,
      resolve: String => DataFrame, outerCtes: Map[String, DataFrame]): DataFrame =
    if (s.settings.isEmpty) buildSelectBody(spark, s, resolve, outerCtes)
    else graft.plans.Settings.withSettings(spark, s.settings.toMap) {
      buildSelectBody(spark, s, resolve, outerCtes)
    }

  private def buildSelectBody(spark: SparkSession, s: SelectStmt,
      resolve: String => DataFrame, outerCtes: Map[String, DataFrame]): DataFrame = {
    val ctes = outerCtes ++ s.ctes.map { case (n, sub) =>
      n -> (if (s.recursiveCtes.contains(n))
        buildRecursiveCte(spark, n, sub, resolve, outerCtes)
      else buildSetOp(spark, sub, resolve, outerCtes))
    }
    def rel(r: Relation): DataFrame = r match {
      case TableRef(name, alias, fin) =>
        // FINAL: catalog tables created through ChDdl carry their
        // MergeTree-family engine in table properties, and FINAL applies
        // that engine's read-time collapse (Replacing / Summing /
        // Collapsing — ChDdl.finalCollapse). Plain parquet tables carry
        // no engine clause, so the sorting key + version column may ride
        // in SETTINGS instead (graft_final_keys = 'a,b',
        // graft_final_version = 'v') — the settings path wins when
        // given. With neither, FINAL stays a no-op.
        // system.* introspection tables resolve as a FALLBACK: a
        // resolver that knows the name (catalog snapshot fixtures, temp
        // views) keeps winning
        val raw = ctes.getOrElse(name,
          try resolve(name) catch {
            case e: Exception =>
              SystemTables.resolve(spark, name).getOrElse(throw e)
          })
        val base =
          if (!fin) raw
          else s.settings.collectFirst {
            case ("graft_final_keys", ks) => ks
          } match {
            case Some(ks) =>
              val version = s.settings.collectFirst {
                case ("graft_final_version", v) => v
              }.getOrElse(throw new IllegalArgumentException(
                "ChSql: FINAL with graft_final_keys also needs " +
                  "graft_final_version = '<column>'"))
              graft.operators.ChOps.selectFinal(
                raw, ks.split(",").map(_.trim).toSeq, version)
            case None if !ctes.contains(name) =>
              ChDdl.finalCollapse(spark, name, raw)
            case None => raw
          }
        alias.fold(base)(a => base.as(a))
      case SubqueryRel(sel, alias) =>
        val df = buildSetOp(spark, sel, resolve, ctes)
        alias.fold(df)(a => df.as(a))
      case TableFuncRel(name, args, alias) if paramViews.contains(name) =>
        // parameterized-view read: `v(p = literal, ...)` — bind the
        // literals as session params for the duration of the BUILD
        // (translation bakes them into the plan; the restore cannot race
        // the lazy execution)
        val binds = args.map {
          case Bin("=" | "==", Ident(Seq(p)), v) => p -> (v match {
            case NumLit(x) => x
            case StrLit(x) => x
            case Neg(NumLit(x)) => s"-$x"
            case other => throw new IllegalArgumentException(
              s"ChSql: view parameter $p needs a literal value, got $other")
          })
          case other => throw new IllegalArgumentException(
            s"ChSql: parameterized view $name takes `param = literal` " +
              s"arguments, got $other")
        }
        val saved = binds.map { case (p, _) =>
          val k = s"graft.param.$p"; k -> spark.conf.getOption(k) }
        binds.foreach { case (p, v) => spark.conf.set(s"graft.param.$p", v) }
        try {
          val df = sql(spark, paramViews(name))(resolve)
          alias.fold(df)(a => df.as(a))
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      case TableFuncRel(name, args, alias) =>
        import graft.sources.TableFunctions
        def lng(e: Expr): Long = e match {
          case NumLit(v) => v.toLong
          case other => throw new IllegalArgumentException(
            s"ChSql: $name() needs integer literal arguments, got $other")
        }
        val df = name.toLowerCase(java.util.Locale.ROOT) match {
          case "numbers" => args match {
            case Seq(n) => TableFunctions.numbers(spark, lng(n))
            case Seq(st, n) => TableFunctions.numbersFrom(spark, lng(st), lng(n))
            case _ => throw new IllegalArgumentException(
              "ChSql: numbers(n) or numbers(start, n)")
          }
          case "zeros" => TableFunctions.zeros(spark, lng(args.head))
          case "one" => TableFunctions.one(spark)
          case "file" | "s3" | "url" => args match {
            case Seq(StrLit(p)) => TableFunctions.fileSource(spark, p)
            case Seq(StrLit(p), StrLit(fmt)) =>
              TableFunctions.fileSource(spark, p, fmt)
            case _ => throw new IllegalArgumentException(
              s"ChSql: $name('path'[, 'Format'])")
          }
          case "remote" | "remotesecure" | "cluster" | "clusterallreplicas" =>
            // distribution wrappers (tableFunctionExpr,
            // ClickHouseParser.py:17027-17087): the first argument is the
            // address/cluster topology; on the one local "cluster" Spark
            // local mode is, the table resolves to itself — the topology
            // argument is a distribution hint, like GLOBAL
            val parts = args.drop(1).flatMap {
              case StrLit(s) => s.split("\\.").toSeq
              case Ident(ps) => ps
              case other => throw new IllegalArgumentException(
                s"ChSql: $name(): bad table reference $other")
            }
            require(parts.nonEmpty,
              s"ChSql: $name('topology', [db,] table) needs a table")
            // resolve db.table, falling back to the bare table name (the
            // remote db namespace need not exist locally)
            try resolve(parts.takeRight(2).mkString("."))
            catch { case e: Exception if parts.length >= 2 =>
              try resolve(parts.last) catch { case _: Exception => throw e }
            }
          case "merge" =>
            // merge([db,] 'tables_regexp'): the union of every table whose
            // name matches — one unionByName over the matching scans
            val (db, re) = args match {
              case Seq(StrLit(r)) => (spark.catalog.currentDatabase, r)
              case Seq(StrLit(d), StrLit(r)) => (d, r)
              case Seq(Ident(Seq(d)), StrLit(r)) => (d, r)
              case _ => throw new IllegalArgumentException(
                "ChSql: merge([db,] 'tables_regexp')")
            }
            val rx = re.r
            val names = spark.catalog.listTables(db).collect()
              .map(_.name).filter(n => rx.findFirstIn(n).isDefined).sorted
            require(names.nonEmpty,
              s"ChSql: merge(): no table in $db matches '$re'")
            names.map(n => resolve(n)).reduce(_.unionByName(_))
          case "generaterandom" => args match {
            // deterministic stand-in: n rows × c reproducible pseudo-random
            // doubles (CH generateRandom is seeded-random over a schema)
            case Seq(n, c) => TableFunctions.generateRandom(
              spark, lng(n), lng(c).toInt)
            case _ => throw new IllegalArgumentException(
              "ChSql: generateRandom(n_rows, n_cols)")
          }
          case other => throw new IllegalArgumentException(
            s"ChSql: unknown table function '$other' (supported: numbers, " +
              "zeros, one, file, s3, url, remote, cluster, merge, " +
              "generateRandom)")
        }
        alias.fold(df)(a => df.as(a))
    }

    // expression-CTE substitution environment (CH: WITH 3 AS k SELECT k+1)
    val exprEnv: Map[String, Expr] = s.exprCtes

    var df: DataFrame = s.from match {
      case Some(r) => rel(r)
      case None => spark.range(1).select() // SELECT without FROM: one empty row
    }

    // SAMPLE k/m on the left table, before joins (CH samples the storage
    // read). Parquet tables carry no SAMPLE BY key from DDL, so the key
    // column comes from SETTINGS graft_sample_key — deterministic bucket
    // filter that pushes to the scan.
    s.sample.foreach { case (k, m, off) =>
      // key resolution: per-query SETTINGS override first, then the
      // table's own SAMPLE BY column recorded at CREATE TABLE time
      // (sampleByClause, ClickHouseParser.py:6063-6112)
      val keyName = s.settings.collectFirst {
        case ("graft_sample_key", v) => v
      }.orElse(s.from.collect { case TableRef(n, _, _) => n }
        .flatMap(TableMeta.props(spark, _).get("graft.sample_by")))
        .getOrElse(throw new IllegalArgumentException(
          "ChSql: SAMPLE needs the table created with SAMPLE BY <col> or " +
            "SETTINGS graft_sample_key = '<integer column>'"))
      if (m == 0L) {
        // SAMPLE n — approximate row-count form: CH scales n onto the
        // sampling keyspace via table-size stats; the twin derives the
        // same fraction from an exact count (one metadata-cheap
        // aggregate over the left table, BEFORE joins) and applies the
        // standard deterministic bucket filter at m = 1e6. Approximate
        // like CH: actual row count tracks n only as well as the
        // sampling key is uniform in the bucket space.
        val total = df.count()
        if (total > 0 && k < total) {
          val kb = ((k * 1000000L + total - 1) / total)
            .min(1000000L).max(1L)
          df = graft.operators.ChOps.sampleBuckets(df, col(keyName),
            kb.toInt, 1000000, 0)
        } // n >= table size: the whole table, no filter
      } else
        df = graft.operators.ChOps.sampleBuckets(df, col(keyName), k.toInt,
          m.toInt, off.toInt)
    }

    val tr = new Translator(spark, resolve, ctes, exprEnv, buildSetOp)
      .withWindows(s.windows)

    // joins
    for (j <- s.joins) {
      val right = rel(j.rel)
      val joined =
        if (j.joinType == "paste") planPasteJoin(df, right)
        else if (j.asof) planAsofJoin(df, right, j)
        else if (j.any) planAnyJoin(df, right, j)
        else if (j.using.nonEmpty) df.join(right, j.using, j.joinType)
        else j.on match {
          case Some(cond) => df.join(right, tr(cond), j.joinType)
          case None => df.crossJoin(right)
        }
      df = joined
    }

    // ARRAY JOIN (before WHERE, like CH)
    if (s.arrayJoins.nonEmpty) {
      val ex: Column => Column = if (s.leftArrayJoin) explode_outer else explode
      s.arrayJoins match {
        case Seq(one) =>
          val name = one.alias.getOrElse("__aj0")
          df = df.withColumn(name, ex(tr(one.e)))
        case many =>
          // CH zips multiple arrays positionally: posexplode the first,
          // index the rest at the same position
          val first = many.head
          val n0 = first.alias.getOrElse("__aj0")
          df = df.select(col("*"),
            posexplode(tr(first.e)).as(Seq("__aj_pos", n0)))
          for ((aj, i) <- many.tail.zipWithIndex) {
            val nm = aj.alias.getOrElse(s"__aj${i + 1}")
            df = df.withColumn(nm, element_at(tr(aj.e), col("__aj_pos") + 1))
          }
          df = df.drop("__aj_pos")
      }
    }

    // PREWHERE then WHERE — both before aggregation; IN-subqueries at the
    // top level of the conjunction become semi/anti joins (CH's execution)
    def applyFilter(d0: DataFrame, e: Expr): DataFrame = {
      def conjuncts(x: Expr): Seq[Expr] = x match {
        case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      var d = d0
      for (c <- conjuncts(e)) c match {
        case InSub(k, sub, neg) =>
          val sf = buildSetOp(spark, sub, resolve, ctes)
          val right = sf.select(col(sf.columns.head).as("__in_v")).distinct()
          d = d.withColumn("__in_k", tr(k))
            .join(right, col("__in_k") === col("__in_v"),
              if (neg) "left_anti" else "left_semi")
            .drop("__in_k")
        case other => d = d.filter(tr(other))
      }
      d
    }
    // CH scope rules allow select aliases inside WHERE/PREWHERE
    // (`SELECT k*2 AS k2 ... WHERE k2 > 10`). Source columns win on a
    // name clash (no exception → no substitution); otherwise materialize
    // the missing aliases, filter, and drop them again.
    val preAlias: Map[String, Expr] =
      s.items.collect { case SelectItem(e, Some(a)) => a -> e }.toMap
    def applyFilterAliased(d0: DataFrame, e: Expr): DataFrame =
      try applyFilter(d0, e)
      catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          val missing = preAlias.keys.toSeq.filterNot(d0.columns.contains)
          if (missing.isEmpty) throw ex
          val d1 = missing.foldLeft(d0)((d, a) =>
            d.withColumn(a, tr(preAlias(a))))
          applyFilter(d1, e).drop(missing: _*)
      }
    s.prewhere.foreach(e => df = applyFilterAliased(df, e))
    s.where.foreach(e => df = applyFilterAliased(df, e))

    // expand `* EXCEPT/APPLY` and `COLUMNS('re')` against the (post-join,
    // post-filter) input schema — after this, downstream classification
    // sees only ordinary items. CH regex match is partial (find), and an
    // APPLY wraps every expanded column in the named function.
    val items0: Seq[SelectItem] = s.items.flatMap {
      case SelectItem(StarMod(reOpt, exc, ap), _) =>
        val base = reOpt match {
          case Some(re) =>
            val p = java.util.regex.Pattern.compile(re)
            df.columns.toSeq.filter(c => p.matcher(c).find())
          case None => df.columns.toSeq
        }
        val cs = base.filterNot(exc.contains)
        if (cs.isEmpty) throw new IllegalArgumentException(
          s"ChSql: star/COLUMNS expansion matched no columns (re=$reOpt except=$exc)")
        ap match {
          case None => cs.map(c => SelectItem(Ident(Seq(c)), None))
          case Some(fn) =>
            cs.map(c => SelectItem(FuncCall(fn, Nil, Seq(Ident(Seq(c)))),
              Some(s"${fn}_$c")))
        }
      case other => Seq(other)
    }

    // arrayJoin(expr) as a select-list FUNCTION (the row-expanding twin
    // of the ARRAY JOIN clause, parsed as a plain ColumnExprFunction):
    // explode the argument into a hidden column. Identical arguments
    // expand in lockstep (one explode), distinct arguments nest — CH's
    // multiple-arrayJoin semantics.
    var ajHidden = Map.empty[Expr, String]
    var insCount = 0
    val itemsPreNav: Seq[SelectItem] = items0.map {
      case SelectItem(FuncCall(fn, Nil, Seq(arg), false), alias)
          if fn.equalsIgnoreCase("arrayJoin") =>
        val h = ajHidden.getOrElse(arg, {
          val nm = s"__ajf${ajHidden.size}"
          df = df.withColumn(nm, explode(tr(arg)))
          ajHidden += arg -> nm
          nm
        })
        SelectItem(Ident(Seq(h)), alias.orElse(Some("arrayJoin")))
      case SelectItem(InSub(k, sub, neg), alias) =>
        // `expr IN (subquery)` PROJECTED as a boolean: a lazy left join
        // against the distinct'd subquery + a found-flag — no plan-time
        // evaluation (the zero-jobs contract), no row multiplication
        val nm0 = alias.getOrElse { val n = s"__ins$insCount"; insCount += 1; n }
        val sf = buildSetOp(spark, sub, resolve, ctes)
        val right = sf.select(col(sf.columns.head).as("__in_v")).distinct()
        df = df.withColumn("__in_k", tr(k))
          .join(right, col("__in_k") === col("__in_v"), "left")
        val found = col("__in_v").isNotNull
        df = df.withColumn(nm0, if (neg) !found else found)
          .drop("__in_k", "__in_v")
        SelectItem(Ident(Seq(nm0)), alias.orElse(Some(nm0)))
      case other => other
    }

    // Block-order navigation functions (neighbor / runningDifference /
    // lagInFrame-without-OVER): ClickHouse computes these over data-block
    // order, which a distributed plan cannot reproduce (and CH's own docs
    // call the result order-dependent, recommending an ORDER BY subquery).
    // The deterministic contract here: the enclosing SELECT's ORDER BY
    // defines the sequence — the order the user actually observes — and
    // the call is rewritten at the AST level into the equivalent window
    // form (lead/lag over that ordering), so the WindowE machinery (NULLS
    // placement, hidden sort columns) applies unchanged. Numeric offsets
    // only; negative neighbor offsets flip to lag. The window is global
    // (no PARTITION BY) — at scale, callers needing parallelism should
    // write the explicit OVER (PARTITION BY ...) form instead.
    lazy val navOrd: Seq[OrderItem] = {
      if (s.orderBy.isEmpty) throw new IllegalArgumentException(
        "ChSql: neighbor()/runningDifference() need an ORDER BY on the " +
          "same SELECT — block order is not defined in a distributed plan")
      s.orderBy.map(_.copy(fill = None, collate = None))
    }
    def rewriteNav(e: Expr): Expr = e match {
      case FuncCall(n, Nil, args, false) if n.equalsIgnoreCase("neighbor") =>
        if (args.size < 2) throw new IllegalArgumentException(
          "ChSql: neighbor(x, offset[, default])")
        val x = rewriteNav(args.head)
        val (off, back) = args(1) match {
          case NumLit(v) => (v, false)
          case Neg(NumLit(v)) => (v, true)
          case other => throw new IllegalArgumentException(
            s"ChSql: neighbor offset must be an integer literal, got $other")
        }
        val fn = if (back) "lag" else "lead"
        val shifted = WindowE(FuncCall(fn, Nil,
          Seq(x, NumLit(off)) ++ args.drop(2).map(rewriteNav)),
          Nil, navOrd, None)
        // CH: out of range without an explicit default yields the column
        // TYPE's default (0, '', epoch; NULL only for Nullable) — not
        // NULL; defaultValueOfArgumentType folds to that typed literal
        if (args.size > 2) shifted
        else FuncCall("ifNull", Nil, Seq(shifted,
          FuncCall("defaultValueOfArgumentType", Nil, Seq(x))))
      case FuncCall(n, Nil, Seq(x0), false)
          if n.equalsIgnoreCase("runningDifference") =>
        val x = rewriteNav(x0)
        // CH: 0 for the first row, x - previous otherwise
        FuncCall("ifNull", Nil, Seq(
          Bin("-", x, WindowE(FuncCall("lag", Nil, Seq(x, NumLit("1"))),
            Nil, navOrd, None)),
          NumLit("0")))
      case FuncCall(n, Nil, Seq(inner), false)
          if n.equalsIgnoreCase("runningAccumulate") =>
        // runningAccumulate(aggState(x)): the running aggregate over the
        // query order — a rows-unbounded-preceding window of the stem.
        // Stems whose window form Spark supports (no DISTINCT windows):
        inner match {
          case FuncCall(st, ps, args, d)
              if st.toLowerCase(java.util.Locale.ROOT).endsWith("state") &&
                Set("sum", "count", "min", "max", "avg")(
                  st.toLowerCase(java.util.Locale.ROOT).dropRight(5)) =>
            WindowE(FuncCall(st.dropRight(5), ps, args.map(rewriteNav), d),
              Nil, navOrd, Some((true, Long.MinValue, 0L)))
          case _ => throw new IllegalArgumentException(
            "ChSql: runningAccumulate takes sumState/countState/minState/" +
              "maxState/avgState (running DISTINCT aggregates are not " +
              "supported in a window)")
        }
      case FuncCall(n, ps, as, d) =>
        FuncCall(n, ps.map(rewriteNav), as.map(rewriteNav), d)
      case Bin(o, l, r) => Bin(o, rewriteNav(l), rewriteNav(r))
      case Neg(x) => Neg(rewriteNav(x))
      case NotE(x) => NotE(rewriteNav(x))
      case IsNullE(x, neg) => IsNullE(rewriteNav(x), neg)
      case CaseE(op, br, el) => CaseE(op.map(rewriteNav),
        br.map(b => (rewriteNav(b._1), rewriteNav(b._2))), el.map(rewriteNav))
      case CastE(x, ty) => CastE(rewriteNav(x), ty)
      case Idx(x, i) => Idx(rewriteNav(x), rewriteNav(i))
      case ArrayLit(is) => ArrayLit(is.map(rewriteNav))
      case TupleLit(is) => TupleLit(is.map(rewriteNav))
      case other => other
    }
    val items: Seq[SelectItem] =
      itemsPreNav.map(it => it.copy(e = rewriteNav(it.e)))

    // resolve select-alias references inside GROUP BY/ORDER BY (CH allows
    // `GROUP BY month` where month is a select alias)
    val aliasAst: Map[String, Expr] =
      items.collect { case SelectItem(e, Some(a)) => a -> e }.toMap
    def substAlias(e: Expr): Expr = e match {
      case Ident(Seq(nm)) if aliasAst.contains(nm) => aliasAst(nm)
      case other => other
    }

    // deep alias substitution — QUALIFY references select aliases inside
    // window specs (`QUALIFY rank() OVER (ORDER BY p2) ...` where p2 is
    // an item alias), so the rewrite must recurse
    def substAliasDeep(e: Expr): Expr = e match {
      case Ident(Seq(nm)) if aliasAst.contains(nm) => aliasAst(nm)
      case FuncCall(n, ps, as, d) =>
        FuncCall(n, ps.map(substAliasDeep), as.map(substAliasDeep), d)
      case Bin(o, l, r) => Bin(o, substAliasDeep(l), substAliasDeep(r))
      case Neg(x) => Neg(substAliasDeep(x))
      case NotE(x) => NotE(substAliasDeep(x))
      case IsNullE(x, n) => IsNullE(substAliasDeep(x), n)
      case InList(x, is, n) =>
        InList(substAliasDeep(x), is.map(substAliasDeep), n)
      case BetweenE(x, lo, hi, n) => BetweenE(substAliasDeep(x),
        substAliasDeep(lo), substAliasDeep(hi), n)
      case CaseE(op, br, el) => CaseE(op.map(substAliasDeep),
        br.map(b => (substAliasDeep(b._1), substAliasDeep(b._2))),
        el.map(substAliasDeep))
      case CastE(x, ty) => CastE(substAliasDeep(x), ty)
      case Idx(x, i) => Idx(substAliasDeep(x), substAliasDeep(i))
      case ArrayLit(is) => ArrayLit(is.map(substAliasDeep))
      case TupleLit(is) => TupleLit(is.map(substAliasDeep))
      case WindowE(fn, pb, ob, fr) => WindowE(
        substAliasDeep(fn).asInstanceOf[FuncCall],
        pb.map(substAliasDeep),
        ob.map(o => o.copy(e = substAliasDeep(o.e))), fr)
      case WindowERef(fn, nm) =>
        WindowERef(substAliasDeep(fn).asInstanceOf[FuncCall], nm)
      case other => other
    }

    val groupExprs: Seq[Expr] =
      if (s.groupByAll)
        items.collect { case SelectItem(e, _) if !hasAgg(e) => e }
      else s.groupBy.map(substAlias)

    val isAggQuery = groupExprs.nonEmpty ||
      items.exists(it => hasAgg(it.e)) || s.having.nonEmpty
    if (isAggQuery && s.qualify.nonEmpty) throw new IllegalArgumentException(
      "ChSql: QUALIFY on an aggregating SELECT is not supported — wrap " +
        "the aggregation in a subquery and QUALIFY the outer SELECT")

    def outName(it: SelectItem, i: Int): String = it.alias.getOrElse(it.e match {
      case Ident(parts) => parts.last
      case Star => "*"
      case _ => s"_c$i"
    })

    var aliasCols = Map.empty[String, Column] // output name -> column (for ORDER BY)
    // sort sources dropped by the projection (CH: ORDER BY / LIMIT BY may
    // reference unselected source columns) ride as hidden __ordN columns,
    // dropped after the final sort/limit
    var hiddenOrd = Map.empty[Expr, Column]
    var hiddenNames = Seq.empty[String]

    if (!isAggQuery) {
      // QUALIFY: filter on window-function results — computed on the
      // pre-projection frame (all source columns in scope; projection is
      // row-wise, so filtering before it is equivalent). Select aliases
      // substitute through substAlias, CH scope rules.
      s.qualify.foreach { qe =>
        df = df.withColumn("__qual", tr(substAliasDeep(qe)).cast("boolean"))
          .filter(col("__qual")).drop("__qual")
      }
      // plain projection
      val cols = items.zipWithIndex.flatMap {
        case (SelectItem(Star, _), _) => Seq(col("*"))
        case (it, i) =>
          val nm = outName(it, i)
          val c = tr(it.e).as(nm)
          aliasCols += nm -> col(nm)
          Seq(c)
      }
      val hasStar = items.exists(_.e == Star)
      val outNames = items.zipWithIndex.collect {
        case (it, i) if it.e != Star => outName(it, i) }.toSet
      // DISTINCT pins output-only resolution (a hidden column would
      // change the distinct key); with a bare * every source col survives
      val hidden: Seq[(Expr, String)] =
        if (s.distinct || hasStar) Nil
        else (s.orderBy.map(o => substAlias(o.e)) ++
            s.limitBy.toSeq.flatMap(_._3.map(substAlias))).distinct
          .filter(e => collectIdents(e).exists(n => !outNames.contains(n)))
          .zipWithIndex.map { case (e, i) => (e, s"__ord$i") }
      val hiddenCols = hidden.map { case (e, nm) => tr(e).as(nm) }
      df = df.select(cols ++ hiddenCols: _*)
      hiddenOrd = hidden.map { case (e, nm) => (e, col(nm)) }.toMap
      hiddenNames = hidden.map(_._2)
    } else {
      // aggregation: pre-project group keys (arbitrary expressions) as
      // __kN, then a single partial+final hash aggregation pass
      val keyed = df.select(col("*") +:
        groupExprs.zipWithIndex.map { case (e, i) => tr(e).as(s"__k$i") }: _*)
      val keyNames = groupExprs.indices.map(i => s"__k$i")
      val keyNameOf: Map[Expr, String] =
        groupExprs.zipWithIndex.map { case (e, i) => e -> s"__k$i" }.toMap
      val keySubst: Map[Expr, Column] =
        keyNameOf.map { case (e, n) => e -> col(n) }
      val trK = tr.withSubst(keySubst)

      // classify select items: group keys project post-agg, everything
      // else must be an aggregate expression
      sealed trait Out
      case class KeyOut(keyCol: String, nm: String) extends Out
      case class AggOut(c: Column, nm: String) extends Out
      val outs: Seq[Out] = items.zipWithIndex.map { case (it, i) =>
        val nm = outName(it, i)
        keyNameOf.get(it.e) match {
          case Some(kn) => KeyOut(kn, nm)
          case None =>
            if (!hasAgg(it.e) && !keyContained(it.e, keySubst.keySet))
              throw new IllegalArgumentException(
                s"ChSql: non-aggregate select item `$nm` not in GROUP BY")
            AggOut(trK(it.e).as(nm), nm)
        }
      }
      // HAVING: replace aggregate subtrees with __hN agg columns
      val havingAggs = Seq.newBuilder[(Expr, String)]
      s.having.foreach { h =>
        collectAggs(h).zipWithIndex.foreach { case (a, i) =>
          havingAggs += ((a, s"__h$i"))
        }
      }
      val hs = havingAggs.result()
      val aggCols: Seq[Column] =
        outs.collect { case AggOut(c, _) => c } ++
          hs.map { case (a, nm) => trK(a).as(nm) }
      // ROLLUP/CUBE/GROUPING SETS all lower onto Spark's grouping-set
      // aggregation — one partial+final pass, super-aggregate rows carry
      // NULL keys (SQL-standard; CH with group_by_use_nulls = 1)
      def grouped(aggs: Seq[Column]): DataFrame = s.groupKind match {
        case "rollup" =>
          keyed.rollup(keyNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
        case "cube" =>
          keyed.cube(keyNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
        case "sets" =>
          val setCols = s.groupSets.map(_.map(e =>
            col(keyNameOf(substAlias(e)))))
          keyed.groupingSets(setCols, keyNames.map(col): _*)
            .agg(aggs.head, aggs.tail: _*)
        case _ if s.withTotals =>
          graft.operators.ChOps.withTotals(keyed, keyNames, aggs)
        case _ =>
          keyed.groupBy(keyNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
      val agged: DataFrame =
        if (aggCols.nonEmpty) grouped(aggCols)
        else grouped(Seq(count(lit(1)).as("__cnt"))).drop("__cnt")
      val havinged = s.having match {
        case Some(h) =>
          val substH: Map[Expr, Column] =
            hs.map { case (a, nm) => (a: Expr) -> col(nm) }.toMap ++ keySubst
          val trH = tr.withSubst(substH)
          agged.filter(trH(h)).drop(hs.map(_._2): _*)
        case None => agged
      }
      // final projection in select order
      val finalCols = outs.map {
        case KeyOut(kn, nm) => aliasCols += nm -> col(nm); col(kn).as(nm)
        case AggOut(_, nm) => aliasCols += nm -> col(nm); col(nm)
      }
      df = havinged.select(finalCols: _*)
    }

    if (s.distinct && s.distinctOn.isEmpty) df = df.distinct()

    // ORDER BY — may reference select aliases or hidden sort columns;
    // CH default is NULLS LAST
    val trOrd = tr.withAliases(aliasCols).withSubst(hiddenOrd)
    def ordCol(o: OrderItem): Column = {
      val raw = trOrd(o.e)
      val base = o.collate.fold(raw)(c =>
        graft.operators.ChOps.collateKey(raw, c))
      (o.asc, o.nullsFirst) match {
        case (true, Some(true)) => base.asc_nulls_first
        case (true, _) => base.asc_nulls_last
        case (false, Some(true)) => base.desc_nulls_first
        case (false, _) => base.desc_nulls_last
      }
    }

    // DISTINCT ON (keys): first row per key set in query order — exactly
    // LIMIT 1 BY keys, reusing the same distributed one-per-group pass
    if (s.distinctOn.nonEmpty) {
      val by = s.distinctOn.map(e => trOrd(e))
      val ord = if (s.orderBy.nonEmpty) s.orderBy.map(ordCol) else by
      df = graft.operators.ChOps.limitBy(df, by, ord, 1, 0)
    }

    // LIMIT BY runs on the ORDER BY ordering (CH: rows kept per group are
    // the first n in query order), before the global ORDER BY + LIMIT
    s.limitBy.foreach { case (off, n, byExprs) =>
      val by = byExprs.map(e => trOrd(e))
      val ord =
        if (s.orderBy.nonEmpty) s.orderBy.map(ordCol)
        else by
      df = graft.operators.ChOps.limitBy(df, by, ord, n.toInt, off.toInt)
    }
    // WITH FILL: densify the (single) fill axis before the final sort;
    // INTERPOLATE carries listed columns forward over the filled gaps via
    // the bucketed carry (partitioned windows + a broadcast bucket
    // summary — never one global window over the axis)
    s.orderBy.filter(_.fill.isDefined) match {
      case Seq() =>
      case Seq(oi) =>
        val axis = oi.e match {
          case Ident(Seq(n)) => n
          case other => throw new IllegalArgumentException(
            s"WITH FILL axis must be an output column, got $other")
        }
        val spec = oi.fill.get
        // numeric literal steps AND interval steps (date/timestamp axes)
        // both go straight through — sequence() accepts either
        val stepCol = spec.step.map(e => trOrd(e)).getOrElse(lit(1L))
        df = graft.operators.ChOps.withFillStep(df, axis, stepCol,
          Map.empty, spec.from.map(e => trOrd(e)), spec.to.map(e => trOrd(e)))
        if (spec.interpolate.nonEmpty) {
          val stepLong = spec.step match {
            case None => 1L
            case Some(NumLit(v)) => v.toLong
            case Some(other) => throw new IllegalArgumentException(
              s"INTERPOLATE requires an integer STEP, got $other")
          }
          // carry buckets span 256 steps — small enough that a bucket's
          // rows fit one window partition, large enough that the bucket
          // summary is tiny relative to the axis
          val span = stepLong * 256
          for (c <- spec.interpolate) {
            val dt = df.schema(c).dataType
            val default = dt match {
              case _: org.apache.spark.sql.types.NumericType => lit(0).cast(dt)
              case _ => lit(null).cast(dt)
            }
            df = graft.operators.ChOps.carryForwardFill(
              df, axis, c, x => floor(x.cast("double") / span), default)
          }
        }
      case _ => throw new IllegalArgumentException(
        "at most one ORDER BY column may carry WITH FILL")
    }
    if (s.orderBy.nonEmpty) df = df.orderBy(s.orderBy.map(ordCol): _*)
    (s.offset, s.limit) match {
      case (None, Some(n)) if s.limitTies =>
        // LIMIT n WITH TIES on the ORDER BY tuple: two-pass cutoff filter
        // (TakeOrderedAndProject probe + pushable lexicographic filter),
        // then restore the query ordering
        if (s.orderBy.isEmpty) throw new IllegalArgumentException(
          "ChSql: LIMIT ... WITH TIES requires ORDER BY")
        df = graft.operators.ChOps.distributedTopKWithTiesCompound(
          df, s.orderBy.map(o => (trOrd(o.e), !o.asc)), n.toInt)
          .orderBy(s.orderBy.map(ordCol): _*)
      case (Some(off), Some(n)) =>
        df = graft.operators.ChOps.limitOffset(df, off.toInt, n.toInt)
      case (None, Some(n)) => df = df.limit(n.toInt)
      case (Some(off), None) =>
        df = df.offset(off.toInt)
      case _ =>
    }
    if (hiddenNames.nonEmpty) df = df.drop(hiddenNames: _*)
    // INTO OUTFILE writes eagerly through the FORMAT-family sink and
    // still returns the result for the caller
    s.outfile.foreach { case (path, fmt) =>
      graft.sources.Sinks.intoOutfile(df, path, fmt)
    }
    df
  }

  /** `ASOF [LEFT] JOIN r ON l.k = r.k AND l.ts >= r.ts` → the
    * single-shuffle union-and-window asof join (ChOps.asofJoinLeft; the
    * grammar parses ASOF as a join strictness). Conventions: the ON
    * clause is one equality conjunct (left operand written first) plus
    * one `>=` conjunct left-ts-first — CH's default asof semantics (the
    * nearest right row at or before the left timestamp). Plain ASOF JOIN
    * (inner) drops left rows with no match. */
  /** `PASTE JOIN` (ClickHouse 23.8+): zip the two sides positionally —
    * row i of the left pairs with row i of the right, no condition. Spark
    * has no positional join operator, so each side gets a row index via
    * `zipWithIndex` (order-preserving over the child plan's partition
    * order — deterministic when the sides are ORDER BY'd subqueries, the
    * same caveat CH documents) and the pair is an equi-join on the dense
    * index. The RDD round-trip is confined to the index stamping; unequal
    * lengths truncate to the shorter side. */
  private def planPasteJoin(left: DataFrame, right: DataFrame): DataFrame = {
    def indexed(df: DataFrame, idxName: String): DataFrame = {
      val schema = df.schema.add(idxName,
        org.apache.spark.sql.types.LongType, nullable = false)
      df.sparkSession.createDataFrame(
        df.rdd.zipWithIndex().map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema)
    }
    indexed(left, "__pj_l")
      .join(indexed(right, "__pj_r"), col("__pj_l") === col("__pj_r"), "inner")
      .drop("__pj_l", "__pj_r")
  }

  private def planAsofJoin(left: DataFrame, right: DataFrame,
      j: JoinSpec): DataFrame = {
    require(j.joinType == "inner" || j.joinType == "left",
      s"ASOF supports INNER/LEFT, got ${j.joinType}")
    val cond = j.on.getOrElse(throw new IllegalArgumentException(
      "ASOF JOIN requires an ON clause"))
    def conjuncts(x: Expr): Seq[Expr] = x match {
      case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val cs = conjuncts(cond)
    val eqs = cs.collect {
      case Bin("=" | "==", Ident(a), Ident(b)) => (a.last, b.last) }
    val ineqs = cs.collect {
      case Bin(">=", Ident(a), Ident(b)) => (a.last, b.last) }
    require(eqs.size == 1 && ineqs.size == 1 && cs.size == 2,
      "ChSql: ASOF ON must be exactly `l.k = r.k AND l.ts >= r.ts`")
    val (lKey, rKey) = eqs.head
    val (leftTs, rightTs) = ineqs.head
    val r2 = if (rKey == lKey) right else right.withColumnRenamed(rKey, lKey)
    val rightVals = r2.columns.filterNot(c => c == lKey || c == rightTs).toSeq
    val joined = graft.operators.ChOps.asofJoinLeft(
      left, r2, lKey, leftTs, rightTs, rightVals)
    if (j.joinType == "inner" && rightVals.nonEmpty)
      joined.filter(col(rightVals.head).isNotNull)
    else joined
  }

  /** CH `ANY` join strictness: at most one match per key from the
    * deduplicated side (CH keeps an arbitrary one; we make the winner
    * deterministic by ranking on the side's non-key columns ascending —
    * same contract as ChOps.anyJoin*). Text form requires USING so the
    * key set is unambiguous. */
  private def planAnyJoin(left: DataFrame, right: DataFrame,
      j: JoinSpec): DataFrame = {
    require(j.using.nonEmpty, "ChSql: ANY JOIN requires USING (keys)")
    import graft.operators.ChOps
    def picks(d: DataFrame): Seq[Column] =
      d.columns.filterNot(j.using.contains).map(col).toSeq
    j.joinType match {
      case "left" => ChOps.anyJoinLeft(left, right, j.using, picks(right))
      case "right" => ChOps.anyJoinRight(left, right, j.using, picks(left))
      case "full" => ChOps.fullAnyJoin(left, right, j.using, picks(left), picks(right))
      case "inner" =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(j.using.map(col): _*).orderBy(picks(right): _*)
        val one = right.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        left.join(one, j.using, "inner")
      case other =>
        throw new IllegalArgumentException(
          s"ChSql: ANY $other JOIN is not supported " +
            "(ANY strictness applies to LEFT/RIGHT/FULL/INNER)")
    }
  }

  /** True if the expression contains an aggregate call (not descending
    * into subqueries — their aggregates are their own). */
  private def hasAgg(e: Expr): Boolean = e match {
    case FuncCall(n, _, args, _) =>
      isAggName(n) || args.exists(hasAgg)
    case Bin(_, l, r) => hasAgg(l) || hasAgg(r)
    case Neg(x) => hasAgg(x)
    case NotE(x) => hasAgg(x)
    case IsNullE(x, _) => hasAgg(x)
    case InList(x, items, _) => hasAgg(x) || items.exists(hasAgg)
    case BetweenE(x, lo, hi, _) => hasAgg(x) || hasAgg(lo) || hasAgg(hi)
    case CaseE(op, br, el) =>
      op.exists(hasAgg) || br.exists(b => hasAgg(b._1) || hasAgg(b._2)) ||
        el.exists(hasAgg)
    case CastE(x, _) => hasAgg(x)
    case Idx(x, i) => hasAgg(x) || hasAgg(i)
    case ArrayLit(items) => items.exists(hasAgg)
    case TupleLit(items) => items.exists(hasAgg)
    case _ => false
  }

  /** Maximal aggregate subtrees, left-to-right (for HAVING rewriting). */
  /** Column names an expression references (top-level, for deciding
    * whether a sort expression survives the output projection). */
  private def collectIdents(e: Expr): Seq[String] = e match {
    case Ident(parts) => Seq(parts.last)
    case Bin(_, l, r) => collectIdents(l) ++ collectIdents(r)
    case Neg(x) => collectIdents(x)
    case NotE(x) => collectIdents(x)
    case IsNullE(x, _) => collectIdents(x)
    case CastE(x, _) => collectIdents(x)
    case InList(x, items, _) => collectIdents(x) ++ items.flatMap(collectIdents)
    case BetweenE(x, lo, hi, _) =>
      collectIdents(x) ++ collectIdents(lo) ++ collectIdents(hi)
    case CaseE(op, br, el) =>
      (op.toSeq ++ br.flatMap(b => Seq(b._1, b._2)) ++ el.toSeq)
        .flatMap(collectIdents)
    case IntervalE(n, _) => collectIdents(n)
    case ArrayLit(items) => items.flatMap(collectIdents)
    case TupleLit(items) => items.flatMap(collectIdents)
    case Idx(x, i) => collectIdents(x) ++ collectIdents(i)
    case FuncCall(_, _, args, _) => args.flatMap(collectIdents)
    case LambdaE(params, body) =>
      collectIdents(body).filterNot(params.contains)
    case _ => Nil
  }

  private def collectAggs(e: Expr): Seq[Expr] = e match {
    case f @ FuncCall(n, _, _, _) if isAggName(n) => Seq(f)
    case FuncCall(_, _, args, _) => args.flatMap(collectAggs)
    case Bin(_, l, r) => collectAggs(l) ++ collectAggs(r)
    case Neg(x) => collectAggs(x)
    case NotE(x) => collectAggs(x)
    case IsNullE(x, _) => collectAggs(x)
    case BetweenE(x, lo, hi, _) =>
      collectAggs(x) ++ collectAggs(lo) ++ collectAggs(hi)
    case CaseE(op, br, el) =>
      op.toSeq.flatMap(collectAggs) ++
        br.flatMap(b => collectAggs(b._1) ++ collectAggs(b._2)) ++
        el.toSeq.flatMap(collectAggs)
    case CastE(x, _) => collectAggs(x)
    case Idx(x, i) => collectAggs(x) ++ collectAggs(i)
    // mirror hasAgg: aggregates under IN / array / tuple literals must be
    // lifted too, or HAVING count() IN (...) dies in analysis
    case InList(x, items, _) => collectAggs(x) ++ items.flatMap(collectAggs)
    case ArrayLit(items) => items.flatMap(collectAggs)
    case TupleLit(items) => items.flatMap(collectAggs)
    case _ => Nil
  }

  /** True if every column reference in e is inside one of the key
    * subtrees (so the expression is computable post-aggregation). */
  private def keyContained(e: Expr, keys: Set[Expr]): Boolean = {
    if (keys.contains(e)) true
    else e match {
      case Ident(_) => false
      case FuncCall(n, _, args, _) =>
        isAggName(n) || args.forall(keyContained(_, keys))
      case Bin(_, l, r) => keyContained(l, keys) && keyContained(r, keys)
      case Neg(x) => keyContained(x, keys)
      case NotE(x) => keyContained(x, keys)
      case IsNullE(x, _) => keyContained(x, keys)
      case BetweenE(x, lo, hi, _) =>
        Seq(x, lo, hi).forall(keyContained(_, keys))
      case CaseE(op, br, el) =>
        (op.toSeq ++ br.flatMap(b => Seq(b._1, b._2)) ++ el.toSeq)
          .forall(keyContained(_, keys))
      case CastE(x, _) => keyContained(x, keys)
      case Idx(x, i) => keyContained(x, keys) && keyContained(i, keys)
      case _ => true // literals
    }
  }

  // ===================== expression translator =====================

  private final class Translator(
      spark: SparkSession,
      resolve: String => DataFrame,
      ctes: Map[String, DataFrame],
      exprEnv: Map[String, Expr],
      buildSub: (SparkSession, SetOp, String => DataFrame, Map[String, DataFrame]) => DataFrame,
      subst: Map[Expr, Column] = Map.empty,
      aliases: Map[String, Column] = Map.empty,
      windows: Map[String, WinSpec] = Map.empty) {

    def withSubst(m: Map[Expr, Column]): Translator =
      new Translator(spark, resolve, ctes, exprEnv, buildSub, m, aliases, windows)
    def withAliases(a: Map[String, Column]): Translator =
      new Translator(spark, resolve, ctes, exprEnv, buildSub, subst, a, windows)
    def withWindows(w: Map[String, WinSpec]): Translator =
      new Translator(spark, resolve, ctes, exprEnv, buildSub, subst, aliases, w)

    def apply(e: Expr): Column = translate(e, Map.empty)

    private def translate(e: Expr, lambdaEnv: Map[String, Column]): Column = {
      subst.get(e) match {
        case Some(c) => return c
        case None =>
      }
      def t(x: Expr): Column = translate(x, lambdaEnv)
      e match {
        case NumLit(s) =>
          if (s.contains('.') || s.toLowerCase(java.util.Locale.ROOT).contains('e')) lit(s.toDouble)
          else {
            val l = s.toLong
            if (l >= Int.MinValue && l <= Int.MaxValue) lit(l.toInt) else lit(l)
          }
        case StrLit(v) => lit(v)
        case NullLit => lit(null)
        case Ident(Seq(nm)) if lambdaEnv.contains(nm) => lambdaEnv(nm)
        case Ident(Seq(nm)) if exprEnv.contains(nm) => t(exprEnv(nm))
        case Ident(Seq(nm)) if aliases.contains(nm) => aliases(nm)
        case Ident(parts) => col(parts.mkString("."))
        case Star => lit(1) // only valid inside count(*) — handled there
        case _: StarMod => throw new IllegalArgumentException(
          "ChSql: */COLUMNS modifiers are only valid as select items")
        case Bin(op, l, r) => binOp(op, t(l), t(r), l, r, lambdaEnv)
        case Neg(x) => -t(x)
        case NotE(x) => !t(x)
        case IsNullE(x, neg) => if (neg) t(x).isNotNull else t(x).isNull
        case InList(x, items, neg) =>
          // tuple IN: (a, b) IN ((1, 'x'), ...) — struct equality chain
          // (constant-folded by Catalyst; stays codegen'd)
          val c = x match {
            case TupleLit(_) => items.map(i => t(x) === t(i)).reduce(_ || _)
            case _ => t(x).isin(items.map(litValue): _*)
          }
          if (neg) !c else c
        case InSub(_, _, _) =>
          throw new IllegalArgumentException(
            "ChSql: IN (subquery) is only supported as a top-level WHERE/PREWHERE conjunct")
        case BetweenE(x, lo, hi, neg) =>
          val c = t(x).between(t(lo), t(hi))
          if (neg) !c else c
        case CaseE(Some(opnd), branches, elseE) =>
          val base = t(opnd)
          val first = when(base === t(branches.head._1), t(branches.head._2))
          val chained = branches.tail.foldLeft(first) { case (acc, (c, v)) =>
            acc.when(base === t(c), t(v))
          }
          elseE.fold(chained)(x => chained.otherwise(t(x)))
        case CaseE(None, branches, elseE) =>
          val first = when(t(branches.head._1), t(branches.head._2))
          val chained = branches.tail.foldLeft(first) { case (acc, (c, v)) =>
            acc.when(t(c), t(v))
          }
          elseE.fold(chained)(x => chained.otherwise(t(x)))
        case CastE(x, tp) => t(x).cast(graft.model.ChTypes.toSpark(tp))
        case IntervalE(nE, unit) =>
          val nC = t(nE)
          expr(s"INTERVAL 1 ${intervalUnit(unit)}") * nC
        case ArrayLit(items) => array(items.map(t): _*)
        case TupleLit(items) => // CH tuples access fields as t.1, t.2 ...
          struct(items.zipWithIndex.map { case (x, i) => t(x).as(s"col${i + 1}") }: _*)
        case Idx(x, i) => element_at(t(x), t(i)) // CH arrays are 1-based, like element_at
        // CH subqueries are uncorrelated; they used to be evaluated
        // EAGERLY here (.head()/.isEmpty at translate time — Spark jobs
        // during parsing, result invisible to Catalyst). Now they ride
        // into the outer plan as real Catalyst subquery expressions:
        // sql() is side-effect-free until an action, and the optimizer
        // sees (and can reuse) the subplan. Runtime divergence from the
        // eager form: zero-row scalar subquery yields NULL (CH throws).
        case ParamE(pname, chType) =>
          val v = graft.plans.Settings.getParam(spark, pname).getOrElse(
            throw new IllegalArgumentException(
              s"ChSql: query parameter '$pname' was not set " +
                s"(SET param_$pname = ...)"))
          val dt = graft.model.ChTypes.relaxed(
            graft.model.ChTypes.toSpark(chType))
          lit(v).cast(dt)
        case ScalarSub(sub) =>
          org.apache.spark.sql.graftbridge.ColumnBridge.scalarSubquery(
            buildSub(spark, sub, resolve, ctes))
        // ordered quantified comparison: one scalar subquery carrying the
        // subquery's (min, max, count) — `> ALL` is a max probe, `> ANY`
        // a min probe, etc.; empty set → TRUE for ALL, FALSE for ANY
        // (standard quantifier semantics). `= ALL` / `!= ANY` reduce to
        // the min = max = x test. One subplan, evaluated once per action.
        case QuantCmp(op, x, all, sub) =>
          val sf = buildSub(spark, sub, resolve, ctes)
          val c0 = col(sf.columns.head)
          val stats = sf.agg(struct(min(c0).as("mn"), max(c0).as("mx"),
            count(lit(1)).as("n")).as("s"))
          val sc = org.apache.spark.sql.graftbridge.ColumnBridge
            .scalarSubquery(stats)
          val (mn, mx, n) = (sc("mn"), sc("mx"), sc("n"))
          val lhs = t(x)
          val empty = lit(all) // ALL over empty → true, ANY → false
          val probe = (op, all) match {
            case ("=", true) | ("==", true) => lhs === mn && lhs === mx
            case ("!=", false) | ("<>", false) => lhs =!= mn || lhs =!= mx
            case (">", true) => lhs > mx
            case (">=", true) => lhs >= mx
            case ("<", true) => lhs < mn
            case ("<=", true) => lhs <= mn
            case (">", false) => lhs > mn
            case (">=", false) => lhs >= mn
            case ("<", false) => lhs < mx
            case ("<=", false) => lhs <= mx
            case other => throw new IllegalArgumentException(
              s"ChSql: unsupported quantified comparison $other")
          }
          when(n === 0, empty).otherwise(probe)
        case ExistsSub(sub) =>
          org.apache.spark.sql.graftbridge.ColumnBridge.existsSubquery(
            buildSub(spark, sub, resolve, ctes))
        case LambdaE(_, _) =>
          throw new IllegalArgumentException(
            "ChSql: lambda outside a higher-order function argument")
        case WindowE(fn, partBy, ordBy, frame) =>
          import org.apache.spark.sql.expressions.Window
          var spec = Window.partitionBy(partBy.map(t): _*)
          val ords = ordBy.map { o =>
            val base = t(o.e)
            (o.asc, o.nullsFirst) match {
              case (true, Some(true)) => base.asc_nulls_first
              case (true, _) => base.asc_nulls_last
              case (false, Some(true)) => base.desc_nulls_first
              case (false, _) => base.desc_nulls_last
            }
          }
          if (ords.nonEmpty) spec = spec.orderBy(ords: _*)
          // ranking/offset functions carry their own implicit frame; Spark
          // rejects an explicit one — only aggregate window functions take
          // the (possibly named-window) frame
          val fnL = fn.name.toLowerCase(java.util.Locale.ROOT)
          val framable = !Set("row_number", "rownumber", "rank", "dense_rank",
            "denserank", "ntile", "lag", "lead", "laginframe", "leadinframe",
            "percent_rank", "cume_dist")
            .contains(fnL)
          // lagInFrame/leadInFrame are DEFINED by frame-boundedness; the
          // lag/lead mapping is exact only for the whole-partition frame
          // (the one CH's own docs tell users to write). A bounded frame
          // would silently return whole-partition values — refuse instead.
          if ((fnL == "laginframe" || fnL == "leadinframe") && frame.exists {
                case (_, lo, hi) => !(lo == Long.MinValue && hi == Long.MaxValue)
              })
            throw new IllegalArgumentException(
              "ChSql: " + fn.name + " with a bounded explicit frame is not " +
                "supported — Spark's lag/lead always read the whole " +
                "partition; use ROWS BETWEEN UNBOUNDED PRECEDING AND " +
                "UNBOUNDED FOLLOWING (or omit the frame clause)")
          frame.filter(_ => framable).foreach { case (isRows, lo, hi) =>
            spec = if (isRows) spec.rowsBetween(lo, hi)
            else spec.rangeBetween(lo, hi)
          }
          windowFn(fn, lambdaEnv).over(spec)
        case WindowERef(fn, name) =>
          val (pb, ob, fr) = windows.getOrElse(name,
            throw new IllegalArgumentException(
              s"ChSql: unknown named window '$name' (no WINDOW clause defines it)"))
          translate(WindowE(fn, pb, ob, fr), lambdaEnv)
        case f: FuncCall => funcCall(f, lambdaEnv)
      }
    }

    /** Ranking/navigation functions valid only with OVER; anything else
      * (sum/avg/count/min/max...) reuses the aggregate builders. */
    private def windowFn(f: FuncCall, env: Map[String, Column]): Column = {
      def a0: Column = translate(f.args.head, env)
      f.name.toLowerCase(java.util.Locale.ROOT) match {
        case "row_number" | "rownumber" => row_number()
        case "rank" => rank()
        case "dense_rank" | "denserank" => dense_rank()
        case "ntile" => ntile(intArg(f.args.head))
        // lagInFrame/leadInFrame are CH's frame-bounded variants; with the
        // default whole-partition frame they coincide with lag/lead, which
        // is how they're mapped (Spark's lag/lead carry their own implicit
        // frame — an explicit frame clause is dropped for all four)
        case "lag" | "laginframe" =>
          if (f.args.size >= 3) lag(a0, intArg(f.args(1)), litValue(f.args(2)))
          else if (f.args.size == 2) lag(a0, intArg(f.args(1))) else lag(a0, 1)
        case "lead" | "leadinframe" =>
          if (f.args.size >= 3) lead(a0, intArg(f.args(1)), litValue(f.args(2)))
          else if (f.args.size == 2) lead(a0, intArg(f.args(1))) else lead(a0, 1)
        case "first_value" => first(a0)
        case "last_value" => last(a0)
        case "percent_rank" | "percentrank" => percent_rank()
        case "cume_dist" | "cumedist" => cume_dist()
        case "nth_value" | "nthvalue" => nth_value(a0, intArg(f.args(1)))
        case _ => funcCall(f, env)
      }
    }

    private def litValue(e: Expr): Any = e match {
      case NumLit(s) =>
        if (s.contains('.')) s.toDouble else s.toLong
      case StrLit(v) => v
      case NullLit => null
      case Neg(NumLit(s)) => if (s.contains('.')) -s.toDouble else -s.toLong
      case other =>
        throw new IllegalArgumentException(s"ChSql: IN list must be literals, got $other")
    }

    private def intervalUnit(u: String): String = u.toLowerCase(java.util.Locale.ROOT) match {
      // sub-second units (interval rule lists NANOSECOND/MICROSECOND/
      // MILLISECOND, ClickHouseParser.py:17712-17784); Spark timestamps
      // are µs-precision, so ms/µs map natively and ns refuses honestly
      // rather than silently truncating
      case "millisecond" | "milliseconds" => "MILLISECOND"
      case "microsecond" | "microseconds" => "MICROSECOND"
      case "nanosecond" | "nanoseconds" =>
        throw new IllegalArgumentException(
          "ChSql: INTERVAL ... NANOSECOND is not supported — Spark " +
            "timestamps are microsecond-precision; use MICROSECOND")
      case "second" | "seconds" => "SECOND"
      case "minute" | "minutes" => "MINUTE"
      case "hour" | "hours" => "HOUR"
      case "day" | "days" => "DAY"
      case "week" | "weeks" => "WEEK"
      case "month" | "months" => "MONTH"
      case "quarter" | "quarters" => "QUARTER"
      case "year" | "years" => "YEAR"
      case other => throw new IllegalArgumentException(s"bad interval unit $other")
    }

    private def binOp(op: String, lc: Column, rc: Column, lAst: Expr,
        rAst: Expr, env: Map[String, Column]): Column = op match {
      case "+" => (lAst, rAst) match {
        case (_, IntervalE(_, _)) | (IntervalE(_, _), _) => lc + rc
        case _ => lc + rc
      }
      case "-" => lc - rc
      case "*" => lc * rc
      case "/" => lc / rc
      case "%" => lc % rc // CH modulo keeps the dividend's sign, like Spark's %
      case "=" | "==" => lc === rc
      case "!=" | "<>" => lc =!= rc
      case "<" => lc < rc
      case "<=" => lc <= rc
      case ">" => lc > rc
      case ">=" => lc >= rc
      case "AND" => lc && rc
      case "OR" => lc || rc
      case "||" => concat(lc, rc)
      case "LIKE" => lc.like(litStr("LIKE", rAst))
      case "ILIKE" => lc.ilike(litStr("ILIKE", rAst))
      case other => throw new IllegalArgumentException(s"ChSql: operator $other")
    }

    /** CH function name (case-insensitive) → Spark Column. Every mapping
      * is a codegen'd builtin — no UDFs anywhere in the translator. */
    /** AST-level "this expression is an array" check, for CH's
      * string/array-polymorphic functions (length/empty/notEmpty).
      * Identifier arguments can't be typed without a schema and default
      * to the string form. */
    private def returnsArray(e: Expr): Boolean = e match {
      case ArrayLit(_) => true
      case FuncCall(n, _, _, _) =>
        val l = n.toLowerCase(java.util.Locale.ROOT)
        l.startsWith("emptyarray") ||
          Set("arraymap", "arrayfilter", "arraysort", "arrayreversesort",
            "arrayconcat", "arrayslice", "arrayresize", "arraydistinct",
            "arrayreverse", "arraycompact", "arraycumsum",
            "arraydifference", "arrayenumerate", "arrayintersect",
            "arraypushback", "arraypushfront", "arraypopback",
            "arraypopfront", "arrayzip", "arrayflatten", "range",
            "splitbychar", "splitbystring", "extractall", "grouparray",
            "groupuniqarray", "grouparrayarray", "quantiles",
            "quantilestiming", "quantilestdigest", "array")(l)
      case _ => false
    }

    private def funcCall(f: FuncCall, env: Map[String, Column]): Column = {
      def t(x: Expr): Column = translate(x, env)
      def a(i: Int): Column = t(f.args(i))
      def hof1(sparkF: (Column, Column => Column) => Column): Column = {
        // CH arg order: arrayMap(lambda, arr); Spark: transform(arr, lambda)
        val (lam, arr) = f.args.head match {
          case l: LambdaE => (l, f.args(1))
          case _ => (f.args(1).asInstanceOf[LambdaE], f.args.head)
        }
        sparkF(t(arr), x => translate(lam.body, env + (lam.params.head -> x)))
      }
      def param(i: Int): Expr = f.params(i)
      def paramD(i: Int): Double = param(i) match {
        case NumLit(s) => s.toDouble
        case Neg(NumLit(s)) => -s.toDouble
        case other => throw new IllegalArgumentException(s"numeric parameter expected: $other")
      }

      val nm = f.name.toLowerCase(java.util.Locale.ROOT)
      if (f.distinct && !Set("count", "sum", "avg", "min", "max", "grouparray",
          "groupuniqarray", "uniq", "uniqexact").contains(nm))
        throw new IllegalArgumentException(
          s"ChSql: DISTINCT is not supported inside $nm()")
      // generic -If combinator (CH attaches If to ANY aggregate name):
      // aggIf(args..., cond) ≡ agg(if(cond, arg, NULL)...) — nulls are
      // ignored by every aggregate, so the rewrite is exact. The common
      // five (count/sum/avg/min/max) keep their direct cases below;
      // everything else re-dispatches here.
      if (nm.endsWith("if") && nm.length > 2 &&
          isAggName(nm.dropRight(2)) &&
          !Set("countif", "sumif", "avgif", "minif", "maxif").contains(nm)) {
        val cond = f.args.last
        val wrapped = f.args.dropRight(1).map(arg =>
          CaseE(None, Seq((cond, arg)), None): Expr)
        return funcCall(FuncCall(nm.dropRight(2), f.params, wrapped,
          f.distinct), env)
      }
      // -State / -Merge combinators (AggregateFunction columns — the CH
      // materialized-view rollup backbone; they parse as plain function
      // names, ClickHouseParser.py:15571-15603). A state here is a TYPED,
      // parquet-storable, mergeable value rather than opaque bytes — the
      // column schema carries what CH's AggregateFunction(f, T) type
      // annotation carries: sum/count/min/max states are the partial
      // itself; avg is a (sum, count) struct; the uniq / groupArray
      // family carries the exact value set (CH's own uniqExact state is
      // the same set — and the text surface pins uniq to the exact tier);
      // topK / sumMap carry the (sorted values, counts) tuple SumMapAgg
      // emits, folded by graft.plans.{TopKMergeAgg, SumMapMergeAgg}.
      // Every state merges associatively, so xMerge is one partial+final
      // aggregation pass with map-side combine — the MV rollup shape.
      if (nm.endsWith("state") && nm.length > 5 && isAggName(nm.dropRight(5)))
        return nm.dropRight(5) match {
          case "count" =>
            if (f.args.isEmpty || f.args == Seq(Star)) count(lit(1))
            else count(a(0))
          case "sum" => sum(a(0))
          case "min" => min(a(0))
          case "max" => max(a(0))
          case "any" => first(a(0))
          case "avg" => struct(sum(a(0)).as("s"), count(a(0)).as("c"))
          case "uniq" | "uniqexact" => sort_array(collect_set(a(0)))
          // the bitmap state IS the uniq state: the sorted distinct
          // value set (roaring compression is CH's storage detail)
          case "groupbitmap" => sort_array(collect_set(a(0)))
          case "grouparray" => collect_list(a(0))
          case "groupuniqarray" => sort_array(collect_set(a(0)))
          case "summap" => t(FuncCall("sumMap", Nil, f.args, distinct = false))
          // the exact-tier topK state is the full (value, count) map —
          // k applies at finalize (merge) time, so the param is accepted
          // and carried by convention, not by the state's shape
          case "topk" => graft.plans.SumMapAgg.sumMap(a(0), lit(1L))
          case other => throw new IllegalArgumentException(
            s"ChSql: ${other}State is not supported (supported stems: " +
              "count, sum, min, max, avg, any, uniq, uniqExact, groupBitmap, " +
              "groupArray, groupUniqArray, topK, sumMap)")
        }
      if (nm.endsWith("merge") && nm.length > 5 && isAggName(nm.dropRight(5)))
        return nm.dropRight(5) match {
          case "count" => sum(a(0)).cast(LongType)
          case "sum" => sum(a(0))
          case "min" => min(a(0))
          case "max" => max(a(0))
          case "any" => first(a(0))
          case "avg" => sum(a(0).getField("s")) / sum(a(0).getField("c"))
          case "uniq" | "uniqexact" | "groupbitmap" =>
            size(array_distinct(flatten(collect_list(a(0))))).cast(LongType)
          case "grouparray" => flatten(collect_list(a(0)))
          case "groupuniqarray" =>
            sort_array(array_distinct(flatten(collect_list(a(0)))))
          case "summap" => graft.plans.SumMapMergeAgg.sumMapMerge(a(0))
          case "topk" =>
            graft.plans.TopKMergeAgg.topKMerge(a(0),
              if (f.params.nonEmpty) paramD(0).toInt else 10)
          case other => throw new IllegalArgumentException(
            s"ChSql: ${other}Merge is not supported (supported stems: " +
              "count, sum, min, max, avg, any, uniq, uniqExact, groupBitmap, " +
              "groupArray, groupUniqArray, topK, sumMap)")
        }
      // -OrNull / -OrDefault combinators (empty-state handling; chainable
      // after -If like all CH combinators). Spark aggregates already
      // return NULL over an empty / all-filtered group — which IS the
      // -OrNull contract — so only the count family (count, uniq tiers,
      // countArray/uniqArray, groupBitmap), which returns 0 instead,
      // needs the explicit 0 → NULL map. -OrDefault is the inverse:
      // replace the empty-state NULL with zero (the numeric default; CH
      // extends the notion to ''/epoch for non-numeric types — the text
      // tier keeps the numeric contract, the tier every real OrDefault
      // call sums/avgs/quantiles over).
      if (nm.endsWith("ornull") && nm.length > 6 && isAggName(nm.dropRight(6))) {
        val inner = funcCall(
          FuncCall(f.name.dropRight(6), f.params, f.args, f.distinct), env)
        def countLike(n: String): Boolean = CountLikeAggs.contains(n) ||
          (n.endsWith("if") && n.length > 2 && countLike(n.dropRight(2)))
        return if (countLike(nm.dropRight(6)))
          when(inner === 0, lit(null)).otherwise(inner)
        else inner
      }
      if (nm.endsWith("ordefault") && nm.length > 9 && isAggName(nm.dropRight(9))) {
        val inner = funcCall(
          FuncCall(f.name.dropRight(9), f.params, f.args, f.distinct), env)
        return coalesce(inner, lit(0))
      }
      // -Distinct combinator: aggDistinct(x) ≡ agg(DISTINCT x)
      if (nm.endsWith("distinct") && nm.length > 8 && isAggName(nm.dropRight(8)))
        return funcCall(
          FuncCall(f.name.dropRight(8), f.params, f.args, distinct = true), env)
      // -ForEach combinator: element-wise aggregation of array columns
      // (position i of the result aggregates element i of every row) —
      // one partial+final pass, O(max array length) state per group
      if (nm.endsWith("foreach") && nm.length > 7 &&
          graft.plans.ForEachAgg.Ops.contains(nm.dropRight(7)))
        return graft.plans.ForEachAgg.forEach(a(0), nm.dropRight(7))
      nm match {
        // ---- aggregates ----
        case "count" =>
          if (f.distinct) countDistinct(a(0), f.args.tail.map(t): _*)
          else if (f.args.isEmpty || f.args == Seq(Star)) count(lit(1))
          else count(a(0))
        case "countif" => count(when(a(0), 1))
        case "sum" => if (f.distinct) sum_distinct(a(0)) else sum(a(0))
        case "sumif" => sum(when(a(1), a(0)))
        case "avg" =>
          if (f.distinct) sum_distinct(a(0)) / countDistinct(a(0))
          else avg(a(0))
        case "avgif" => avg(when(a(1), a(0)))
        case "min" => min(a(0))
        case "minif" => min(when(a(1), a(0)))
        case "max" => max(a(0))
        case "maxif" => max(when(a(1), a(0)))
        case "any" => first(a(0))
        case "anylast" => last(a(0))
        // deterministic under value ties: lexicographic struct max/min
        case "argmax" => max(struct(a(1).as("_v"), a(0).as("_a"))).getField("_a")
        case "argmin" => min(struct(a(1).as("_v"), a(0).as("_a"))).getField("_a")
        // uniq tiers: the text surface pins the exact tier (CH's uniq is a
        // sketch; countDistinct is the semantics users rely on — the KMV /
        // HLL tiers stay available through the DataFrame API)
        case "uniq" | "uniqexact" | "uniqcombined" | "uniqhll12" =>
          countDistinct(a(0), f.args.tail.map(t): _*)
        case "uniqtheta" => countDistinct(a(0), f.args.tail.map(t): _*)
        // Kahan-compensated sum: Spark's partial aggregation already
        // accumulates per-partition partials (the error profile CH's
        // compensation targets); the honest twin is plain sum
        case "sumkahan" => sum(a(0))
        // sumCount(x) → (sum, count) tuple — col1/col2 like tuple()
        case "sumcount" =>
          struct(sum(a(0)).as("col1"), count(a(0)).as("col2"))
        // anyHeavy is CH's heavy-hitter sketch (approximate mode); the
        // deterministic twin is mode with lowest-value tie-break
        case "anyheavy" => mode(a(0), deterministic = true)
        // simpleLinearRegression(x, y) → (k, b) least-squares tuple via
        // the covariance algebra — one partial+final pass, no sort.
        // try_divide: a degenerate group (constant x) yields NULL slope
        // instead of an ANSI error
        case "simplelinearregression" =>
          val k = try_divide(covar_pop(a(0), a(1)), var_pop(a(0)))
          struct(k.as("col1"), (avg(a(1)) - k * avg(a(0))).as("col2"))
        // numerically-stable variants: Spark's two-pass-free streaming
        // moments are already the stable formulation
        case "corrstable" => corr(a(0), a(1))
        case "covarpopstable" => covar_pop(a(0), a(1))
        case "covarsampstable" => covar_samp(a(0), a(1))
        case "grouparray" =>
          val base = if (f.distinct) collect_set(a(0)) else collect_list(a(0))
          // parametric groupArray(n)(x): keep at most n elements
          if (f.params.nonEmpty) slice(base, 1, paramD(0).toInt) else base
        case "groupuniqarray" => collect_set(a(0))
        // ---- the -Array combinator (agg over all elements of all rows'
        // arrays); the common members get direct arms like the -If five
        case "sumarray" => sum(t(FuncCall("arraySum", Nil, Seq(f.args.head))))
        case "minarray" => min(t(FuncCall("arrayMin", Nil, Seq(f.args.head))))
        case "maxarray" => max(t(FuncCall("arrayMax", Nil, Seq(f.args.head))))
        case "avgarray" =>
          sum(t(FuncCall("arraySum", Nil, Seq(f.args.head)))) / sum(size(a(0)))
        case "countarray" => sum(size(a(0))).cast("long")
        case "uniqarray" =>
          size(array_distinct(flatten(collect_list(a(0))))).cast("long")
        case "grouparrayarray" => flatten(collect_list(a(0)))
        case "quantile" | "quantileexact" =>
          percentile(a(0), lit(if (f.params.nonEmpty) paramD(0) else 0.5))
        case "quantiles" =>
          percentile(a(0), array(f.params.indices.map(i => lit(paramD(i))): _*))
        // timing/t-digest/bfloat16 tiers: the honest Spark twin is the
        // GK-sketch percentile_approx (approximate, mergeable, bounded)
        case "quantiletiming" | "quantiletdigest" | "quantilebfloat16" =>
          percentile_approx(a(0),
            lit(if (f.params.nonEmpty) paramD(0) else 0.5), lit(10000))
        case "quantilestiming" | "quantilestdigest" =>
          percentile_approx(a(0),
            array(f.params.indices.map(i => lit(paramD(i))): _*), lit(10000))
        case "median" => percentile(a(0), lit(0.5))
        case "stddevpop" => stddev_pop(a(0))
        case "stddevsamp" => stddev_samp(a(0))
        case "varpop" => var_pop(a(0))
        case "varsamp" => var_samp(a(0))
        case "corr" => corr(a(0), a(1))
        case "covarpop" => covar_pop(a(0), a(1))
        case "covarsamp" => covar_samp(a(0), a(1))
        case "avgweighted" => sum(a(0) * a(1)) / sum(a(1))
        // categorical association aggregates (cramersV / contingency /
        // theilsU): the aggregation state is the CONTINGENCY CELL COUNT
        // MAP (SumMapAgg over an encoded (x, y) cell key) plus the two
        // MARGINAL count maps as sibling sumMaps — every buffer bounded
        // by distinct cells/categories, never by row count, so the
        // single partial+final pass is 100 TB-safe; the statistic algebra
        // then runs row-locally over the (cells, counts) arrays.
        // Categories compare by their string form.
        case "cramersv" | "contingency" | "theilsu" =>
          val sep = "\u0001"
          // escape makes the encoding injective for ANY category bytes:
          // ESC doubles itself, SEP maps to ESC+'s' — and the escaped
          // x/y halves equal the sibling marginal aggregates' keys, so
          // lookups need no decode step
          val esc = "\u0002"
          def escape(c: Column): Column =
            replace(replace(c.cast("string"), lit(esc), lit(esc + esc)),
              lit(sep), lit(esc + "s"))
          val ex0 = escape(a(0))
          val ey0 = escape(a(1))
          val cellKey = concat(ex0, lit(sep), ey0)
          val cc = graft.plans.SumMapAgg.sumMap(cellKey, lit(1L))
          // marginal count maps as SIBLING sumMaps — one aggregation
          // pass computes all three; marginals count only rows where
          // BOTH sides are non-null (the rows the cell map sees)
          val xcc = graft.plans.SumMapAgg.sumMap(
            when(a(1).isNotNull, ex0), lit(1L))
          val ycc = graft.plans.SumMapAgg.sumMap(
            when(a(0).isNotNull, ey0), lit(1L))
          val cells = cc.getField("col1")
          val cnts = cc.getField("col2")
          def fsum(arr: Column): Column =
            aggregate(arr, lit(0.0), (acc, v) => acc + v.cast("double"))
          val n = fsum(cnts)
          def xOf(c: Column): Column = substring_index(c, sep, 1)
          def yOf(c: Column): Column = substring_index(c, sep, -1)
          val xs = xcc.getField("col1")
          val ys = ycc.getField("col1")
          // marginal lookup: a map over the sibling aggregate's arrays —
          // O(distinct categories) to build, independent of the cell
          // count, so final evaluation is O(cells · distinct), never the
          // O(cells²) a per-cell rescan of all cells would cost
          def cxOf(c: Column): Column =
            element_at(map_from_arrays(xs, xcc.getField("col2")), xOf(c))
              .cast("double")
          def cyOf(c: Column): Column =
            element_at(map_from_arrays(ys, ycc.getField("col2")), yOf(c))
              .cast("double")
          if (nm == "theilsu") {
            // U(x|y) = (H(x) − H(x|y)) / H(x), natural log; H(x|y) via
            // the per-cell identity −Σ (c/n)·ln(c/cy)
            def plogp(p: Column): Column =
              when(p > 0, p * log(p)).otherwise(lit(0.0))
            val hx = -aggregate(transform(xcc.getField("col2"), cx =>
              plogp(cx.cast("double") / n)),
              lit(0.0), (acc, v) => acc + v)
            val hxy = -fsum(zip_with(cells, cnts, (c, k) =>
              when(k > 0, (k.cast("double") / n) *
                log(k.cast("double") / cyOf(c))).otherwise(lit(0.0))))
            when(hx === 0, lit(0.0)).otherwise((hx - hxy) / hx)
          } else {
            // chi² = Σ_cells (obs − exp)²/exp + the zero-observation
            // remainder Σ_{empty cells} exp, folded in closed form:
            // Σ_all exp = n, so the empty-cell part is n − Σ_nonempty exp
            val perCell = zip_with(cells, cnts, (c, k) => {
              val ex = cxOf(c) * cyOf(c) / n
              struct(
                (when(ex > 0, (k.cast("double") - ex) * (k.cast("double") - ex) / ex)
                  .otherwise(lit(0.0))).as("chi"),
                ex.as("ex"))
            })
            val chiNonEmpty = fsum(transform(perCell, p => p.getField("chi")))
            val exNonEmpty = fsum(transform(perCell, p => p.getField("ex")))
            val chi2 = chiNonEmpty + (n - exNonEmpty)
            if (nm == "contingency") sqrt(chi2 / (chi2 + n))
            else {
              val dof = least(size(xs), size(ys)) - 1
              when(dof <= 0, lit(0.0))
                .otherwise(sqrt(chi2 / (n * dof)))
            }
          }
        // minMap/maxMap(keys, values): per-key extremum → (sorted keys,
        // extrema) tuple like sumMap. A TypedImperativeAggregate whose
        // state is the key → best-value map — bounded by distinct keys,
        // never by row count; map-side combine, one partial+final pass
        case "minmap" =>
          graft.plans.ExtremumMapAgg.minMap(a(0), a(1))
        case "maxmap" =>
          graft.plans.ExtremumMapAgg.maxMap(a(0), a(1))
        // the value if the group holds exactly one distinct value, else NULL
        case "singlevalueornull" =>
          when(countDistinct(a(0)) === 1, min(a(0)))
        // boundingRatio(x, y): slope of the bounding segment —
        // (y at max x − y at min x) / (max x − min x)
        case "boundingratio" =>
          (max(struct(a(0).as("_k"), a(1).as("_v"))).getField("_v") -
            min(struct(a(0).as("_k"), a(1).as("_v"))).getField("_v"))
            .cast("double") /
            (max(a(0)) - min(a(0))).cast("double")
        // Shannon entropy (log2) of the value distribution. The per-value
        // counts come from the sumMap state (one partial+final pass,
        // O(distinct values) buffer); the −Σ (c/n)·log2(c/n) fold over
        // that array is row-local algebra on the agg result, expanded to
        // log2(n) − (Σ c·log2 c)/n so the two HOF folds don't nest.
        case "entropy" =>
          val counts = graft.plans.SumMapAgg.sumMap(a(0), lit(1L))
            .getField("col2")
          val total = aggregate(counts, lit(0.0),
            (acc, c) => acc + c.cast("double"))
          log2(total) - aggregate(counts, lit(0.0),
            (acc, c) => acc + c.cast("double") * log2(c.cast("double"))) / total
        // sample skewness / kurtosis (CH: sample central moments over the
        // sample variance): one pass via the power-sum expansion.
        // m2 = Σx²/n − μ², m3 = Σx³/n − 3μΣx²/n + 2μ³,
        // m4 = Σx⁴/n − 4μΣx³/n + 6μ²Σx²/n − 3μ⁴; sample moments scale by
        // n/(n−1). skewSamp = m3ₛ/varSamp^1.5, kurtSamp = m4ₛ/varSamp²
        case "skewsamp" | "kurtsamp" =>
          val x = a(0).cast("double")
          val n = count(x).cast("double")
          val mu = sum(x) / n
          val p2 = sum(x * x) / n
          val m2s = (p2 - mu * mu) * n / (n - 1)
          if (nm == "skewsamp") {
            val p3 = sum(x * x * x) / n
            val m3 = p3 - lit(3) * mu * p2 + lit(2) * mu * mu * mu
            (m3 * n / (n - 1)) / pow(m2s, 1.5)
          } else {
            val p3 = sum(x * x * x) / n
            val p4 = sum(x * x * x * x) / n
            val m4 = p4 - lit(4) * mu * p3 + lit(6) * mu * mu * p2 -
              lit(3) * mu * mu * mu * mu
            (m4 * n / (n - 1)) / (m2s * m2s)
          }
        // groupBitmap: CH builds a roaring bitmap and reports its
        // cardinality — semantically count-distinct; the bitmap OBJECT
        // tier is the sorted distinct array (bitmapBuild family below)
        case "groupbitmap" => countDistinct(a(0))
        case "groupbitand" => bit_and(a(0))
        case "groupbitor" => bit_or(a(0))
        case "groupbitxor" => bit_xor(a(0))
        case "skewpop" => skewness(a(0))
        case "kurtpop" => kurtosis(a(0))
        // CH behavioral aggregates: sequenceMatch('(?1)...(?2)')(ts, c1, c2)
        // — the pattern sublanguage parses here, the matching runs in the
        // codegen'd backtracking automaton over a per-group sorted encoded
        // event array (one aggregation, one shuffle). Events matching no
        // condition stay in the stream (step −1) because adjacency counts
        // them as separators; an event matching several conditions takes
        // the FIRST true one.
        // windowFunnel(windowSeconds)(ts, c1, c2, ...): deepest prefix of
        // the condition chain completed within the sliding window — same
        // one-aggregation encoding as sequenceCount, codegen'd DP fold
        case "windowfunnel" =>
          val windowSecs = param(0) match {
            case NumLit(s) => s.toLong
            case other => throw new IllegalArgumentException(
              s"windowFunnel window param: $other")
          }
          val conds = f.args.tail.map(t)
          // base-10 step digit in the encoding below — same cap as ChOps
          require(conds.size <= 10,
            s"windowFunnel supports at most 10 steps, got ${conds.size}")
          val stepIdx = conds.zipWithIndex.reverse
            .foldLeft(lit(-1): Column) { case (acc, (c, i)) =>
              when(c, lit(i)).otherwise(acc)
            }
          graft.plans.NativeExpressions.window_funnel_level(
            sort_array(collect_list(
              when(stepIdx >= 0, unix_micros(a(0)) * 10 + stepIdx))),
            conds.size, windowSecs * 1000000L)
        case "sequencematch" | "sequencecount" =>
          val pat = f.params.headOption match {
            case Some(StrLit(s)) => s
            case other => throw new IllegalArgumentException(
              s"$nm needs a pattern string parameter, got $other")
          }
          val (nSteps, gaps) = parseSeqPattern(pat)
          val conds = f.args.tail.map(t)
          require(conds.size == nSteps,
            s"$nm pattern has $nSteps steps but ${conds.size} conditions")
          // step digit is base-16 (match) / base-10 (count) in the encodings
          // below — same caps as ChOps
          require(nSteps <= (if (nm == "sequencematch") 14 else 10),
            s"$nm supports at most ${if (nm == "sequencematch") 14 else 10} " +
              s"steps, got $nSteps")
          val stepIdx = conds.zipWithIndex.reverse
            .foldLeft(lit(-1): Column) { case (acc, (c, i)) =>
              when(c, lit(i)).otherwise(acc)
            }
          val ts = unix_micros(a(0))
          if (nm == "sequencematch")
            graft.plans.NativeExpressions.sequence_match_pattern(
              sort_array(collect_list(ts * 16 + stepIdx + 1)), nSteps, gaps)
          else {
            require(gaps.forall(_ == -1L),
              "sequenceCount supports only any-gap ('.*') patterns")
            graft.plans.NativeExpressions.sequence_count(
              sort_array(collect_list(
                when(stepIdx >= 0, ts * 10 + stepIdx))), nSteps)
          }

        // ---- geo distances (degrees in, meters out) ----
        // haversine central angle on a spherical Earth; argument order is
        // CH's (lon1, lat1, lon2, lat2). greatCircleDistance and
        // geoDistance both map to the mean-radius sphere (R = 6371000 m;
        // CH's geoDistance refines with an ellipsoid — documented
        // divergence, same contract class as the uniq sketch tiers)
        case "greatcircledistance" | "geodistance" | "greatcircleangle" =>
          val half =
            pow(sin(radians(a(3) - a(1)) / 2), 2) +
              cos(radians(a(1))) * cos(radians(a(3))) *
              pow(sin(radians(a(2) - a(0)) / 2), 2)
          val centralAngle = asin(sqrt(half)) * 2
          if (nm == "greatcircleangle") degrees(centralAngle)
          else centralAngle * lit(6371000.0)
        case "jumpconsistenthash" =>
          // CH errors on a non-positive bucket count; catching it at
          // translation time (the count is a literal here) beats the
          // silent -1 the loop-never-runs form would produce
          val nb = intArg(f.args(1))
          if (nb <= 0) throw new IllegalArgumentException(
            s"ChSql: jumpConsistentHash bucket count must be positive, got $nb")
          graft.plans.NativeExpressions.jump_hash(a(0).cast(LongType), nb)
        case "defaultvalueofargumenttype" =>
          graft.plans.NativeExpressions.default_value_of(a(0))
        case "widthbucket" =>
          // SQL-standard width_bucket: equal-width histogram bucket index
          // in [0, n+1] (0 below lo, n+1 at/above hi)
          val (x, lo, hi, nb) = (a(0).cast("double"), a(1).cast("double"),
            a(2).cast("double"), a(3).cast("double"))
          when(x < lo, lit(0L))
            .when(x >= hi, (nb + 1).cast(LongType))
            .otherwise((floor((x - lo) / (hi - lo) * nb) + 1).cast(LongType))
        case "arrayshiftleft" | "arrayshiftright" =>
          // shift by n, vacated slots filled with the default (or typed
          // zero of the first element when omitted); negative n flips
          val arr = a(0)
          val sz = size(arr)
          val nRaw = (if (nm == "arrayshiftleft") a(1) else -a(1))
            .cast(LongType)
          val fillC = f.args.lift(2).map(t)
            .getOrElse(element_at(arr, 1) - element_at(arr, 1))
          val n0 = greatest(least(nRaw, sz.cast(LongType)),
            -sz.cast(LongType)).cast("int")
          // sequence(1, 0) would be the DESCENDING [1, 0] — guard
          val pad = (cnt: Column) =>
            when(cnt > 0, transform(sequence(lit(1), cnt), _ => fillC))
              .otherwise(slice(arr, lit(1), lit(0)))
          when(sz === 0, arr)
            .when(n0 >= 0, concat(slice(arr, n0 + 1, sz - n0), pad(n0)))
            .otherwise(concat(pad(-n0), slice(arr, lit(1), sz + n0)))
        case "json_exists" =>
          get_json_object(a(0), jsonPath(f.args.tail)).isNotNull
        case "normalizequery" =>
          // literal scrubbing: string literals then standalone numbers →
          // `?` (the CH query-log normalization); identifier-embedded
          // digits survive via the boundary guards
          regexp_replace(regexp_replace(a(0),
            "'(?:[^'\\\\]|\\\\.)*'", "?"),
            "(?<![A-Za-z_0-9])-?\\d+(?:\\.\\d+)?", "?")
        case "normalizedqueryhash" =>
          // portable polynomial hash of the normalized text (CH uses its
          // own internal hash; the contract is "equal queries ⇒ equal
          // hash", which any fixed hash satisfies)
          graft.functions.PortableHash.charFold(
            t(FuncCall("normalizeQuery", Nil, Seq(f.args.head))))
        case "formatreadabledecimalsize" =>
          // 1000-based tiers (KB/MB/GB/TB), two decimals — the decimal
          // sibling of formatReadableSize
          val b = a(0).cast("double")
          when(b < 1000, concat(format_number(b, 2), lit(" B")))
            .when(b < 1e6, concat(format_number(b / 1e3, 2), lit(" KB")))
            .when(b < 1e9, concat(format_number(b / 1e6, 2), lit(" MB")))
            .when(b < 1e12, concat(format_number(b / 1e9, 2), lit(" GB")))
            .otherwise(concat(format_number(b / 1e12, 2), lit(" TB")))
        // map arithmetic over (keys, values) tuples — row-local array
        // algebra; the typed zero (x − x of the first element) keeps the
        // value type without a cast
        case "mapadd" | "mapsubtract" =>
          def pairsOf(c: Column, negate: Boolean): Column =
            zip_with(c.getField("col1"), c.getField("col2"), (k, v) =>
              struct(k.as("k"), (if (negate) -v else v).as("v")))
          val all = concat(pairsOf(a(0), negate = false) +:
            f.args.tail.map(x => pairsOf(t(x), negate = nm == "mapsubtract")): _*)
          val ks = sort_array(array_distinct(
            transform(all, p => p.getField("k"))))
          struct(ks.as("col1"),
            transform(ks, key => {
              val vs = transform(filter(all, p => p.getField("k") === key),
                p => p.getField("v"))
              val zero = element_at(vs, 1) - element_at(vs, 1)
              aggregate(vs, zero, (acc, v) => acc + v)
            }).as("col2"))
        case "mappopulateseries" =>
          val keys0 = a(0).getField("col1")
          val vals0 = a(0).getField("col2")
          val maxK = f.args.lift(1).map(e => t(e))
            .getOrElse(array_max(keys0))
          val ks = sequence(array_min(keys0), maxK)
          val zero = element_at(vals0, 1) - element_at(vals0, 1)
          struct(ks.as("col1"),
            transform(ks, key => {
              val pos = array_position(keys0, key)
              when(pos > 0, element_at(vals0, pos.cast("int")))
                .otherwise(zero)
            }).as("col2"))
        case "arraywithconstant" =>
          when(a(0) > 0, transform(sequence(lit(1), a(0)), _ => a(1)))
            .otherwise(filter(array(a(1)), _ => lit(false)))
        case "bittestall" =>
          f.args.tail.map(b =>
            (shiftright(a(0), intArg(b)) % 2 === 1): Column)
            .reduce(_ && _)
        case "bittestany" =>
          f.args.tail.map(b =>
            (shiftright(a(0), intArg(b)) % 2 === 1): Column)
            .reduce(_ || _)
        case "formatreadabletimedelta" =>
          // days/hours/minutes/seconds tiers, zero units skipped,
          // singular/plural forms; 0 → "0 seconds" (calendar units above
          // days are locale policy, not semantics — documented cap)
          val secs = a(0).cast(LongType)
          def part(n: Column, unit: String): Column =
            when(n > 0, concat(n.cast("string"), lit(" " + unit),
              when(n === 1, lit("")).otherwise(lit("s"))))
          val d = (secs / 86400).cast(LongType)
          val h = (secs % 86400 / 3600).cast(LongType)
          val m = (secs % 3600 / 60).cast(LongType)
          val sc = secs % 60
          when(secs === 0, lit("0 seconds")).otherwise(concat_ws(", ",
            part(d, "day"), part(h, "hour"), part(m, "minute"),
            part(sc, "second")))
        // vector distance family (the embedding-pipeline functions):
        // sequential-fold accumulation in double (deterministic order,
        // replayable in any engine); dot goes through the codegen'd
        // native expression the similarity operators use
        case "dotproduct" | "scalarproduct" | "arraydotproduct" =>
          graft.operators.Similarity.dot(
            graft.operators.Similarity.asDouble(a(0)),
            graft.operators.Similarity.asDouble(a(1)))
        case "l1distance" =>
          aggregate(zip_with(a(0), a(1),
            (x, y) => abs(x.cast("double") - y.cast("double"))),
            lit(0.0), (acc, v) => acc + v)
        case "l2squareddistance" =>
          aggregate(zip_with(a(0), a(1), (x, y) => {
            val d = x.cast("double") - y.cast("double"); d * d
          }), lit(0.0), (acc, v) => acc + v)
        case "l2distance" =>
          sqrt(aggregate(zip_with(a(0), a(1), (x, y) => {
            val d = x.cast("double") - y.cast("double"); d * d
          }), lit(0.0), (acc, v) => acc + v))
        case "linfdistance" =>
          array_max(zip_with(a(0), a(1),
            (x, y) => abs(x.cast("double") - y.cast("double"))))
        case "l1norm" =>
          aggregate(transform(a(0), x => abs(x.cast("double"))),
            lit(0.0), (acc, v) => acc + v)
        case "l2norm" =>
          graft.operators.Similarity.norm(
            graft.operators.Similarity.asDouble(a(0)))
        case "linfnorm" =>
          array_max(transform(a(0), x => abs(x.cast("double"))))
        case "cosinedistance" =>
          lit(1.0) - graft.operators.Similarity.cosine(
            graft.operators.Similarity.asDouble(a(0)),
            graft.operators.Similarity.asDouble(a(1)))
        case "arrayjaccardindex" =>
          try_divide(size(array_intersect(a(0), a(1))).cast("double"),
            size(array_union(a(0), a(1))))
        // geohash: codegen'd native interval-bisection (standard public
        // base32 algorithm); decode returns the cell-center (lon, lat)
        // tuple addressable as .1/.2
        case "geohashencode" =>
          val prec = f.args.lift(2).map(intArg).getOrElse(12)
          graft.plans.NativeExpressions.geohash_encode(
            a(0).cast("double"), a(1).cast("double"), prec)
        case "geohashdecode" =>
          graft.plans.NativeExpressions.geohash_decode(a(0))
        // pointInPolygon((x, y), [(x1, y1), ...]): ray casting over the
        // vertex arrays — row-local codegen'd loop, no join
        case "pointinpolygon" =>
          val (px, py) = f.args.head match {
            case TupleLit(Seq(xe, ye)) => (t(xe), t(ye))
            case other =>
              val c = t(other)
              (c.getField("col1"), c.getField("col2"))
          }
          val poly = a(1)
          graft.plans.NativeExpressions.point_in_polygon(
            px.cast("double"), py.cast("double"),
            transform(poly, v => v.getField("col1").cast("double")),
            transform(poly, v => v.getField("col2").cast("double")))

        // ---- bitmap family: a bitmap is its sorted distinct value
        // array (typed, parquet-storable; CH's roaring bitmap is a
        // compression detail of the same value set). Set algebra maps to
        // the native array_* functions — row-local, codegen'd ----
        case "bitmapbuild" => sort_array(array_distinct(a(0)))
        case "bitmaptoarray" => a(0)
        case "bitmapcardinality" => size(a(0)).cast("long")
        case "bitmapmin" => array_min(a(0))
        case "bitmapmax" => array_max(a(0))
        case "bitmapand" => sort_array(array_intersect(a(0), a(1)))
        case "bitmapor" => sort_array(array_union(a(0), a(1)))
        case "bitmapxor" => sort_array(array_except(
          array_union(a(0), a(1)), array_intersect(a(0), a(1))))
        case "bitmapandnot" => sort_array(array_except(a(0), a(1)))
        case "bitmapcontains" => array_contains(a(0), a(1))
        case "bitmaphasany" => arrays_overlap(a(0), a(1))
        case "bitmaphasall" => size(array_except(a(1), a(0))) === 0
        case "bitmapandcardinality" =>
          size(array_intersect(a(0), a(1))).cast("long")
        case "bitmaporcardinality" =>
          size(array_union(a(0), a(1))).cast("long")
        case "bitmapxorcardinality" => size(array_except(
          array_union(a(0), a(1)), array_intersect(a(0), a(1)))).cast("long")
        case "bitmapandnotcardinality" =>
          size(array_except(a(0), a(1))).cast("long")

        // ---- conditionals / null handling ----
        // dictGet('dict', 'attr', key) — the scalar dictionary lookup
        // (plan-time load into a broadcast map literal; the CH model is a
        // RAM-resident dict on every node). dictGetOrDefault adds the
        // miss fallback.
        case "dictget" | "dictgetordefault" =>
          val dictName = f.args(0) match {
            case StrLit(s) => s
            case other => throw new IllegalArgumentException(
              s"dictGet needs a dictionary name string, got $other")
          }
          val attr = f.args(1) match {
            case StrLit(s) => s
            case other => throw new IllegalArgumentException(
              s"dictGet needs an attribute name string, got $other")
          }
          // A RANGE_HASHED dictionary takes one extra argument — the
          // range point: dictGet(dict, attr, key, point) /
          // dictGetOrDefault(dict, attr, key, point, default).
          val isRange = graft.sources.Dictionaries.get(dictName)
            .exists(_.range.isDefined)
          val baseArgs = (if (isRange) 4 else 3) +
            (if (nm == "dictgetordefault") 1 else 0)
          require(f.args.size == baseArgs,
            s"$nm over ${if (isRange) "RANGE_HASHED" else "point"} " +
              s"dictionary $dictName takes $baseArgs arguments, " +
              s"got ${f.args.size}")
          val looked =
            if (isRange) graft.sources.Dictionaries.dictGetRangeLiteral(
              spark, dictName, attr, t(f.args(2)), t(f.args(3)))
            else graft.sources.Dictionaries.dictGetLiteral(
              spark, dictName, attr, t(f.args(2)))
          val defaultIdx = if (isRange) 4 else 3
          if (nm == "dictgetordefault") coalesce(looked, t(f.args(defaultIdx)))
          else looked
        case "dicthas" =>
          val dictName = litStr("dictHas", f.args(0))
          if (f.args.size >= 3)
            graft.sources.Dictionaries.dictHasRangeLiteral(
              spark, dictName, t(f.args(1)), t(f.args(2)))
          else
            graft.sources.Dictionaries.dictHasLiteral(
              spark, dictName, t(f.args(1)))

        case "if" => when(a(0), a(1)).otherwise(a(2))
        case "multiif" =>
          val pairs = f.args.dropRight(1).grouped(2).toSeq
          val first0 = when(t(pairs.head(0)), t(pairs.head(1)))
          pairs.tail.foldLeft(first0) { case (acc, Seq(c, v)) =>
            acc.when(t(c), t(v))
          }.otherwise(t(f.args.last))
        case "coalesce" => coalesce(f.args.map(t): _*)
        case "ifnull" => coalesce(a(0), a(1))
        case "nullif" => when(a(0) === a(1), lit(null)).otherwise(a(0))
        case "isnull" => a(0).isNull
        case "isnotnull" => a(0).isNotNull
        case "assumenotnull" => a(0)
        case "greatest" => greatest(f.args.map(t): _*)
        case "least" => least(f.args.map(t): _*)

        // ---- type conversion ----
        case "toint8" | "toint16" | "toint32" => a(0).cast(IntegerType)
        case "toint64" => a(0).cast(LongType)
        case "touint8" | "touint16" | "touint32" => a(0).cast(LongType)
        case "touint64" => a(0).cast(LongType)
        case "tofloat32" => a(0).cast(FloatType)
        case "tofloat64" => a(0).cast(DoubleType)
        case "tostring" => a(0).cast(StringType)
        case "tofixedstring" => // pad to width with NUL bytes, as CH does
          rpad(a(0).cast(StringType), intArg(f.args(1)), "\u0000")
        case "formatreadablesize" | "formatreadablequantity" =>
          // binary-size / quantity pretty-printer — pure column
          // arithmetic (log-scale unit pick + format_string)
          val (units, base) =
            if (nm == "formatreadablesize")
              (Seq(" B", " KiB", " MiB", " GiB", " TiB", " PiB", " EiB"), 1024.0)
            else (Seq("", " thousand", " million", " billion", " trillion",
              " quadrillion"), 1000.0)
          val x = a(0).cast("double")
          val e = least(
            when(abs(x) < base, lit(0.0))
              .otherwise(floor(log(base, abs(x)))),
            lit((units.size - 1).toDouble)).cast("int")
          concat(
            format_string("%.2f", x / pow(lit(base), e.cast("double"))),
            element_at(array(units.map(lit): _*), e + 1))
        case "bar" =>
          // bar(x, min, max, width): CH's eighth-block bar chart
          val width = intArg(f.args(3))
          val v0 = lit(width.toDouble) * (a(0).cast("double") - a(1)) /
            (a(2).cast("double") - a(1))
          val v = greatest(least(v0, lit(width.toDouble)), lit(0.0))
          val full = floor(v).cast("int")
          val frac8 = floor((v - floor(v)) * 8).cast("int")
          val eighths = Seq("", "▏", "▎", "▍", "▌",
            "▋", "▊", "▉")
          concat(lit("█" * width).substr(lit(1), full),
            element_at(array(eighths.map(lit): _*), frac8 + 1))
        case "transform" if f.args.size == 4 =>
          // transform(x, [from...], [to...], default): literal mapping —
          // a folded when-chain, codegen'd
          (f.args(1), f.args(2)) match {
            case (ArrayLit(fs), ArrayLit(ts)) if fs.size == ts.size =>
              fs.zip(ts).foldRight(t(f.args(3))) { case ((fe, te), acc) =>
                when(a(0) === t(fe), t(te)).otherwise(acc)
              }
            case _ => throw new IllegalArgumentException(
              "ChSql: transform(x, [from...], [to...], default) needs " +
                "literal arrays of equal length")
          }
        case "todate" => to_date(a(0))
        case "todatetime" => a(0).cast(TimestampType)

        // ---- dates ----
        case "toyear" => year(a(0))
        case "toquarter" => quarter(a(0))
        case "todayofyear" => dayofyear(a(0))
        case "tounixtimestamp" => unix_timestamp(a(0))
        case "fromunixtimestamp" => timestamp_seconds(a(0))
        case "tomonday" => trunc(a(0), "week")
        case "tomonth" => month(a(0))
        case "todayofmonth" => dayofmonth(a(0))
        case "todayofweek" => dayofweek(a(0)) // note: CH Mon=1; Spark Sun=1
        case "tohour" => hour(a(0))
        case "tominute" => minute(a(0))
        case "tosecond" => second(a(0))
        case "tostartofmonth" => trunc(a(0), "month")
        case "tostartofquarter" => trunc(a(0), "quarter")
        case "tostartofyear" => trunc(a(0), "year")
        case "tostartofweek" => trunc(a(0), "week")
        case "tostartofday" => date_trunc("day", a(0))
        case "tostartofhour" => date_trunc("hour", a(0))
        case "tostartofminute" => date_trunc("minute", a(0))
        // DateTime64 sub-second floors; nanosecond refuses (µs timestamps)
        case "tostartofsecond" => date_trunc("second", a(0))
        case "tostartofmillisecond" => date_trunc("millisecond", a(0))
        case "tostartofmicrosecond" => date_trunc("microsecond", a(0))
        case "tostartofnanosecond" =>
          throw new IllegalArgumentException(
            "ChSql: toStartOfNanosecond is not supported — Spark " +
              "timestamps are microsecond-precision; use the microsecond twin")
        // fixed-grid minute floors (toStartOfInterval specializations)
        case "tostartoffiveminutes" | "tostartoftenminutes" | "tostartoffifteenminutes" =>
          val step = nm match {
            case "tostartoffiveminutes" => 300L
            case "tostartoftenminutes" => 600L
            case _ => 900L
          }
          timestamp_seconds(
            floor(unix_timestamp(a(0)) / lit(step)).cast("long") * step)
        // Modified Julian Day: days since 1858-11-17 (the CH pair)
        case "tomodifiedjulianday" =>
          datediff(a(0), to_date(lit("1858-11-17"))).cast("int")
        case "frommodifiedjulianday" =>
          date_add(to_date(lit("1858-11-17")), a(0).cast("int"))
        case "tostartofinterval" =>
          // toStartOfInterval(t, INTERVAL n unit): floor to the n-unit
          // grid — fixed-length units via epoch-MICROSECOND arithmetic
          // (so sub-second grids on DateTime64 work and sub-second input
          // components floor correctly), calendar units (n=1) via
          // date_trunc
          val (n, unit) = f.args(1) match {
            case IntervalE(NumLit(v), u) => (v.toLong, u.toLowerCase(java.util.Locale.ROOT))
            case _ => throw new IllegalArgumentException(
              "ChSql: toStartOfInterval needs INTERVAL <n> <unit>")
          }
          val fixedUs = Map("microsecond" -> 1L, "millisecond" -> 1000L,
            "second" -> 1000000L, "minute" -> 60000000L,
            "hour" -> 3600000000L, "day" -> 86400000000L)
          fixedUs.get(unit) match {
            case Some(us) =>
              // subtract the µs PHASE instead of reconstructing the
              // timestamp: timestamp_micros() would force TIMESTAMP_LTZ,
              // while interval subtraction preserves the input's
              // NTZ-vs-LTZ type (unix_micros itself needs the LTZ cast,
              // but only the scalar phase flows out of it)
              val step = n * us
              val phase = pmod(unix_micros(a(0).cast(
                org.apache.spark.sql.types.TimestampType)), lit(step))
              a(0) - expr("INTERVAL 1 MICROSECOND") * phase
            case None if n == 1 &&
                Set("week", "month", "quarter", "year")(unit) =>
              date_trunc(unit, a(0))
            case None if unit.startsWith("nanosecond") =>
              throw new IllegalArgumentException(
                "ChSql: toStartOfInterval: NANOSECOND grids are not " +
                  "supported — Spark timestamps are microsecond-precision")
            case None => throw new IllegalArgumentException(
              s"ChSql: toStartOfInterval: INTERVAL $n $unit is not a fixed" +
                "-length grid (supported: n×microsecond/millisecond/" +
                "second/minute/hour/day, 1 week/month/quarter/year)")
          }
        case "toyyyymm" => date_format(a(0), "yyyyMM").cast(IntegerType)
        case "toyyyymmdd" => date_format(a(0), "yyyyMMdd").cast(IntegerType)
        case "adddays" => date_add(a(0), a(1))
        case "subtractdays" => date_sub(a(0), a(1))
        case "addmonths" => add_months(a(0), a(1))
        case "subtractmonths" => add_months(a(0), -a(1))
        case "addyears" => add_months(a(0), a(1) * 12)
        case "subtractyears" => add_months(a(0), -a(1) * 12)
        case "addquarters" => add_months(a(0), a(1) * 3)
        case "subtractquarters" => add_months(a(0), -a(1) * 3)
        case "addweeks" => date_add(a(0), a(1) * 7)
        case "subtractweeks" => date_sub(a(0), a(1) * 7)
        case "addhours" => a(0) + expr("INTERVAL 1 HOUR") * a(1)
        case "subtracthours" => a(0) - expr("INTERVAL 1 HOUR") * a(1)
        case "addminutes" => a(0) + expr("INTERVAL 1 MINUTE") * a(1)
        case "subtractminutes" => a(0) - expr("INTERVAL 1 MINUTE") * a(1)
        case "addseconds" => a(0) + expr("INTERVAL 1 SECOND") * a(1)
        case "subtractseconds" => a(0) - expr("INTERVAL 1 SECOND") * a(1)
        // sub-second family (DateTime64 arithmetic): Spark timestamps are
        // µs-precision — ms/µs are native; the ns twins refuse honestly
        case "addmilliseconds" =>
          a(0) + expr("INTERVAL 1 MILLISECOND") * a(1)
        case "subtractmilliseconds" =>
          a(0) - expr("INTERVAL 1 MILLISECOND") * a(1)
        case "addmicroseconds" =>
          a(0) + expr("INTERVAL 1 MICROSECOND") * a(1)
        case "subtractmicroseconds" =>
          a(0) - expr("INTERVAL 1 MICROSECOND") * a(1)
        case "addnanoseconds" | "subtractnanoseconds" | "tointervalnanosecond" =>
          throw new IllegalArgumentException(
            s"ChSql: ${f.name} is not supported — Spark timestamps are " +
              "microsecond-precision; use the microsecond twin")
        case "tointervalmillisecond" => expr("INTERVAL 1 MILLISECOND") * a(0)
        case "tointervalmicrosecond" => expr("INTERVAL 1 MICROSECOND") * a(0)
        case "tointervalsecond" => expr("INTERVAL 1 SECOND") * a(0)
        case "tointervalminute" => expr("INTERVAL 1 MINUTE") * a(0)
        case "tointervalhour" => expr("INTERVAL 1 HOUR") * a(0)
        case "tointervalday" => expr("INTERVAL 1 DAY") * a(0)
        case "tointervalweek" => expr("INTERVAL 7 DAY") * a(0)
        case "tointervalmonth" => expr("INTERVAL 1 MONTH") * a(0)
        case "tointervalquarter" => expr("INTERVAL 3 MONTH") * a(0)
        case "tointervalyear" => expr("INTERVAL 1 YEAR") * a(0)
        case "age" =>
          // age(unit, s, e): COMPLETE units between (CH truncates), vs
          // dateDiff's boundary crossings — epoch arithmetic for fixed
          // units, floored months_between for calendar units
          val unit = litStr("age", f.args.head).toLowerCase(
            java.util.Locale.ROOT)
          val (s0, e0) = (a(1), a(2))
          val fixedSecs = Map("second" -> 1L, "minute" -> 60L,
            "hour" -> 3600L, "day" -> 86400L, "week" -> 604800L)
          fixedSecs.get(unit) match {
            case Some(sec) => floor(
              (unix_timestamp(e0) - unix_timestamp(s0)) / lit(sec))
              .cast("long")
            case None =>
              val months = floor(months_between(e0, s0)).cast("long")
              val div = Map("month" -> 1, "quarter" -> 3, "year" -> 12)
                .getOrElse(unit, throw new IllegalArgumentException(
                  s"ChSql: age: unknown unit $unit"))
              (months / div).cast("long")
          }
        case "parsedatetimebesteffort" => to_timestamp(a(0))
        case "parsedatetimebesteffortornull" =>
          call_function("try_to_timestamp", a(0))
        case "todatetime64" => to_timestamp(a(0)) // Spark µs precision
        case "datediff" | "date_diff" =>
          val unit = litStr("dateDiff", f.args.head)
          val (s0, e0) = (t(f.args(1)), t(f.args(2)))
          unit match {
            case "day" => datediff(e0, s0)
            case "month" => months_between(e0, s0).cast(IntegerType)
            case "year" => (year(e0) - year(s0))
            case other => throw new IllegalArgumentException(s"dateDiff unit $other")
          }
        case "formatdatetime" =>
          date_format(a(0), chFormatToJava(litStr("formatDateTime", f.args(1))))

        // ---- strings ----
        case "length" | "lengthutf8" | "char_length" | "character_length" =>
          // CH length() is polymorphic over strings AND arrays; the AST
          // tells arrays apart for literals and array-returning functions
          // (identifier arguments default to string length)
          if (returnsArray(f.args.head)) size(a(0)) else length(a(0))
        case "lower" | "lowerutf8" | "lcase" => lower(a(0))
        case "upper" | "upperutf8" | "ucase" => upper(a(0))
        case "substringutf8" =>
          if (f.args.size == 3) a(0).substr(a(1), a(2))
          else a(0).substr(a(1), length(a(0)))
        case "reverse" => reverse(a(0))
        case "substring" | "substr" | "mid" =>
          if (f.args.size == 3) a(0).substr(a(1), a(2))
          else a(0).substr(a(1), length(a(0)))
        case "position" | "locate" =>
          // CH position(haystack, needle); needle may be a column
          call_function("instr", a(0), a(1))
        case "concat" => concat(f.args.map(t): _*)
        case "concatwithseparator" | "concat_ws" =>
          concat_ws(litStr("concatWithSeparator", f.args.head),
            f.args.tail.map(t): _*)
        case "left" | "leftutf8" => substring(a(0), 1, intArg(f.args(1)))
        case "right" | "rightutf8" =>
          val n = intArg(f.args(1))
          a(0).substr(greatest(length(a(0)) - (n - 1), lit(1)), lit(n))
        case "translate" | "translateutf8" =>
          org.apache.spark.sql.functions.translate(a(0),
            litStr("translate", f.args(1)), litStr("translate", f.args(2)))
        case "startswith" => a(0).startsWith(a(1))
        case "hastoken" =>
          // CH hasToken(haystack, 'token'): exact membership among the
          // maximal [A-Za-z0-9_]+ token runs (case-sensitive). Composed
          // from codegen'd builtins in the EXACT tree shape the
          // tokenbf_v1 prune rule matches (BloomSkipIndex.tokenProbesOf)
          array_contains(
            split(a(0), graft.plans.BloomSkipIndex.TokenSplitRe),
            litStr("hasToken", f.args(1)))
        case "endswith" => a(0).endsWith(a(1))
        case "trim" | "trimboth" =>
          if (f.args.size == 2)
            trim(a(0), litStr("trim", f.args(1)))
          else trim(a(0))
        case "trimleft" =>
          if (f.args.size == 2)
            ltrim(a(0), litStr("trimLeft", f.args(1)))
          else ltrim(a(0))
        case "trimright" =>
          if (f.args.size == 2)
            rtrim(a(0), litStr("trimRight", f.args(1)))
          else rtrim(a(0))
        case "replaceall" | "replace" =>
          // CH replaceAll is LITERAL replace
          regexp_replace(a(0),
            lit(java.util.regex.Pattern.quote(
              litStr("replaceAll", f.args(1)))), a(2))
        case "replaceregexpall" => regexp_replace(a(0), a(1), a(2))
        case "match" => a(0).rlike(litStr("match", f.args(1)))
        case "extract" => regexp_extract(a(0), litStr("extract", f.args(1)), 0)
        case "splitbychar" | "splitbystring" =>
          split(a(1), java.util.regex.Pattern.quote(litStr("splitByChar", f.args(0))))
        case "substringindex" =>
          substring_index(a(0), litStr("substringIndex", f.args(1)),
            intArg(f.args(2)))
        case "initcap" | "initcaputf8" => initcap(a(0))
        case "leftpadutf8" =>
          lpad(a(0), intArg(f.args(1)),
            if (f.args.size > 2) litStr("leftPadUTF8", f.args(2)) else " ")
        case "rightpadutf8" =>
          rpad(a(0), intArg(f.args(1)),
            if (f.args.size > 2) litStr("rightPadUTF8", f.args(2)) else " ")
        case "reverseutf8" => reverse(a(0))
        case "startswithutf8" => a(0).startsWith(a(1))
        case "endswithutf8" => a(0).endsWith(a(1))
        case "concatassumeinjective" => concat(f.args.map(t): _*)
        case "arrayrotateleft" | "arrayrotateright" =>
          // rotate by n mod size (negative n flips direction, CH 23.8)
          val arr = a(0)
          val nRaw = if (nm == "arrayrotateleft") a(1) else -a(1)
          val sz = size(arr)
          val sh = pmod(nRaw.cast(LongType), sz.cast(LongType)).cast("int")
          when(sz === 0, arr).otherwise(concat(
            slice(arr, sh + 1, sz - sh), slice(arr, lit(1), sh)))
        case "empty" =>
          (if (returnsArray(f.args.head)) size(a(0)) else length(a(0))) === 0
        case "notempty" =>
          (if (returnsArray(f.args.head)) size(a(0)) else length(a(0))) > 0
        case "leftpad" | "lpad" => lpad(a(0), intArg(f.args(1)), strArg(f.args(2)))
        case "rightpad" | "rpad" => rpad(a(0), intArg(f.args(1)), strArg(f.args(2)))
        case "repeat" =>
          // literal counts use the codegen'd builtin; column counts go
          // through the SQL function form (repeat(str, n) accepts both)
          f.args(1) match {
            case NumLit(n) => repeat(a(0), n.toInt)
            case _ => call_function("repeat", a(0), a(1))
          }

        // ---- math ----
        case "abs" => abs(a(0))
        case "sqrt" => sqrt(a(0))
        case "cbrt" => cbrt(a(0))
        case "exp" => exp(a(0))
        case "log" | "ln" => log(a(0))
        case "log2" => log2(a(0))
        case "log10" => log10(a(0))
        case "floor" => if (f.args.size == 2) floor(a(0), a(1)) else floor(a(0))
        case "ceil" | "ceiling" => ceil(a(0))
        case "round" => if (f.args.size == 2) round(a(0), intArg(f.args(1))) else round(a(0))
        case "sign" => signum(a(0))
        case "power" | "pow" => pow(a(0), a(1))
        case "modulo" => pmod(a(0), a(1))
        case "intdiv" => (a(0) / a(1)).cast(LongType)
        case "plus" => a(0) + a(1)
        case "minus" => a(0) - a(1)
        case "multiply" => a(0) * a(1)
        case "divide" => a(0) / a(1)
        case "negate" => -a(0)
        case "pi" => lit(math.Pi)
        case "e" => lit(math.E)
        case "sin" => sin(a(0))
        case "cos" => cos(a(0))
        case "tan" => tan(a(0))
        case "asin" => asin(a(0))
        case "acos" => acos(a(0))
        case "atan" => atan(a(0))
        case "atan2" => atan2(a(0), a(1))
        case "sinh" => sinh(a(0))
        case "cosh" => cosh(a(0))
        case "tanh" => tanh(a(0))
        case "degrees" => degrees(a(0))
        case "radians" => radians(a(0))
        case "exp2" => pow(lit(2.0), a(0))
        case "exp10" => pow(lit(10.0), a(0))
        case "intdivorzero" =>
          when(a(1) === 0, lit(0L)).otherwise((a(0) / a(1)).cast(LongType))
        case "moduloorzero" =>
          when(a(1) === 0, lit(0L)).otherwise(a(0) % a(1))
        case "bitand" => a(0).bitwiseAND(a(1))
        case "bitor" => a(0).bitwiseOR(a(1))
        case "bitxor" => a(0).bitwiseXOR(a(1))
        case "bitshiftleft" => shiftleft(a(0), intArg(f.args(1)))
        case "bitshiftright" => shiftright(a(0), intArg(f.args(1)))

        // ---- encoding / hashing ----
        case "hex" => hex(a(0))
        case "unhex" => unhex(a(0))
        case "base64encode" | "tobase64" => base64(a(0).cast(BinaryType))
        case "base64decode" | "frombase64" => unbase64(a(0)).cast(StringType)
        case "md5" => md5(a(0).cast(BinaryType))
        case "sha256" => sha2(a(0).cast(BinaryType), 256)
        case "xxhash64" => xxhash64(a(0))
        case "cityhash64" | "siphash64" => xxhash64(a(0)) // documented stand-in

        // ---- map / struct ----
        case "map" => map(f.args.map(t): _*)
        case "mapfromarrays" => map_from_arrays(a(0), a(1))
        case "mapkeys" => map_keys(a(0))
        case "mapvalues" => map_values(a(0))
        case "mapcontains" => map_contains_key(a(0), a(1))

        // ---- string similarity / search ----
        case "levenshteindistance" | "editdistance" => levenshtein(a(0), a(1))
        case "soundex" => soundex(a(0))
        case "positioncaseinsensitive" | "positioncaseinsensitiveutf8" =>
          call_function("instr", lower(a(0)), lower(a(1)))
        case "countmatches" =>
          size(regexp_extract_all(a(0),
            lit(litStr("countMatches", f.args(1))), lit(0))).cast(LongType)
        case "positionutf8" => call_function("instr", a(0), a(1))
        case "tokens" =>
          // CH tokens(): maximal runs of letters/digits
          filter(split(a(0), "[^\\p{L}\\p{N}]+"), x => length(x) > 0)
        case "splitbyregexp" =>
          // same empties-kept convention as splitByChar/splitByString
          split(a(1), litStr("splitByRegexp", f.args.head))
        case "ascii" => ascii(a(0))
        case "char" | "chr" => concat(f.args.map(x => chr(t(x))): _*)
        case "space" => repeat(lit(" "), intArg(f.args.head))
        case "countsubstrings" =>
          // occurrences of a literal needle: (len - len(without)) / len(needle)
          val needle = litStr("countSubstrings", f.args(1))
          ((length(a(0)) - length(
            regexp_replace(a(0), java.util.regex.Pattern.quote(needle), ""))) /
            lit(needle.length)).cast(LongType)
        case "multisearchany" =>
          exists(a(1), n => a(0).contains(n))
        case "multisearchfirstposition" =>
          // leftmost match offset over all needles, 0 when none matches
          coalesce(array_min(filter(
            transform(a(1), n => call_function("instr", a(0), n)),
            p => p > 0)), lit(0)).cast(LongType)
        case "multisearchfirstindex" =>
          // 1-based index of the first needle (in needle order) that
          // occurs in the haystack, 0 when none does
          coalesce(get(filter(
            transform(a(1), (n, i) =>
              when(call_function("instr", a(0), n) > 0, i + 1)),
            x => x.isNotNull), lit(0)), lit(0)).cast(LongType)
        case "multimatchany" =>
          exists(a(1), r => regexp_like(a(0), r))
        case "multimatchanyindex" =>
          coalesce(get(filter(
            transform(a(1), (r, i) => when(regexp_like(a(0), r), i + 1)),
            x => x.isNotNull), lit(0)), lit(0)).cast(LongType)
        case "hassubstr" =>
          // contiguous-subsequence containment (CH hasSubstr, array form)
          when(size(a(1)) === 0, lit(true))
            .when(size(a(0)) < size(a(1)), lit(false))
            .otherwise(exists(
              sequence(lit(1), size(a(0)) - size(a(1)) + 1),
              i => slice(a(0), i, size(a(1))) === a(1)))
        case "ngramdistance" =>
          // 4-gram Jaccard distance over distinct grams in [0,1] — 0 for
          // identical gram sets, 1 for disjoint. CH's variant works on a
          // gram multiset; the distinct-set form keeps the same ordering
          // contract (similar→0) with pure codegen'd array algebra.
          def grams(c: Column): Column =
            when(length(c) < 4, array().cast("array<string>"))
              .otherwise(array_distinct(transform(
                sequence(lit(1), length(c) - 3), i => c.substr(i, lit(4)))))
          val ga = grams(a(0)); val gb = grams(a(1))
          val uni = size(array_union(ga, gb))
          when(uni === 0, lit(0.0))
            .otherwise(lit(1.0) -
              size(array_intersect(ga, gb)).cast("double") / uni)

        // ---- math parity ----
        case "roundbankers" =>
          if (f.args.size >= 2) bround(a(0), intArg(f.args(1))) else bround(a(0))
        case "sigmoid" => lit(1.0) / (lit(1.0) + exp(-a(0)))
        case "cot" => lit(1.0) / tan(a(0))
        case "factorial" => factorial(a(0))
        case "intexp2" => pow(lit(2.0), a(0)).cast(LongType)
        case "intexp10" => pow(lit(10.0), a(0)).cast(LongType)
        case "ifnotfinite" =>
          when(isnan(a(0)) || a(0) === Double.PositiveInfinity ||
            a(0) === Double.NegativeInfinity, a(1)).otherwise(a(0))
        case "tonullable" => a(0) // type-level in CH; values pass through
        case "log1p" => log1p(a(0))
        case "expm1" => expm1(a(0))
        case "bitcount" => bit_count(a(0))
        case "bittest" => (shiftright(a(0), intArg(f.args(1))) % 2 === 1)
        case "isnan" => isnan(a(0))
        case "isinfinite" => a(0) === Double.PositiveInfinity ||
          a(0) === Double.NegativeInfinity
        case "isfinite" => !isnan(a(0)) &&
          a(0) =!= Double.PositiveInfinity && a(0) =!= Double.NegativeInfinity

        // ---- date parity ----
        case "datetrunc" | "date_trunc" =>
          date_trunc(litStr("dateTrunc", f.args.head), a(1))
        case "tolastdayofmonth" => last_day(a(0))
        // toRelative*Num: epoch-grid ordinals (CH's "number of units
        // since a fixed point" family) — pure integer arithmetic
        case "torelativesecondnum" =>
          a(0).cast("timestamp").cast(LongType)
        case "torelativeminutenum" =>
          floor(a(0).cast("timestamp").cast(LongType) / 60).cast(LongType)
        case "torelativehournum" =>
          floor(a(0).cast("timestamp").cast(LongType) / 3600).cast(LongType)
        case "torelativedaynum" =>
          floor(a(0).cast("timestamp").cast(LongType) / 86400).cast(LongType)
        case "torelativeweeknum" =>
          // CH counts Thursday-aligned epoch weeks (1970-01-01 was a
          // Thursday; +3 days shifts the grid to Monday starts)
          floor((a(0).cast("timestamp").cast(LongType) + 3L * 86400) /
            (7L * 86400)).cast(LongType)
        case "torelativemonthnum" =>
          year(a(0)) * 12 + month(a(0))
        case "torelativequarternum" =>
          year(a(0)) * 4 + quarter(a(0))
        case "torelativeyearnum" => year(a(0))
        case "toisoweek" => weekofyear(a(0))
        case "toisoyear" =>
          call_function("date_part", lit("YEAROFWEEK"), a(0))
        // toYearWeek on the ISO calendar (isoyear*100 + isoweek) — CH's
        // default mode 0 counts Sunday-start weeks; the ISO form is the
        // deterministic cross-engine contract (documented divergence)
        case "toyearweek" =>
          call_function("date_part", lit("YEAROFWEEK"), a(0)) * 100 +
            weekofyear(a(0))
        // timeSlot: floor to the half-hour grid; timeSlots(start, dur
        // [, size]): every slot start covered by [start, start+dur]
        case "timeslot" =>
          (floor(a(0).cast("timestamp").cast(LongType) / 1800) * 1800)
            .cast("timestamp")
        case "timeslots" =>
          val sz = f.args.lift(2).map(e => t(e).cast(LongType))
            .getOrElse(lit(1800L))
          val st = a(0).cast("timestamp").cast(LongType)
          val en = st + a(1).cast(LongType)
          transform(
            sequence(floor(st / sz).cast(LongType) * sz,
              floor(en / sz).cast(LongType) * sz, sz),
            x => x.cast("timestamp"))
        case "monthname" => date_format(a(0), "MMMM")
        case "datename" =>
          // unit → builder map (not a match: the FunctionCatalog drift
          // test extracts quoted case literals from this region)
          val d = a(1)
          val units = Map[String, () => Column](
            "year" -> (() => year(d).cast("string")),
            "quarter" -> (() => quarter(d).cast("string")),
            "month" -> (() => date_format(d, "MMMM")),
            "week" -> (() => weekofyear(d).cast("string")),
            "day" -> (() => dayofmonth(d).cast("string")),
            "dayofmonth" -> (() => dayofmonth(d).cast("string")),
            "weekday" -> (() => date_format(d, "EEEE")),
            "dayofyear" -> (() => dayofyear(d).cast("string")),
            "hour" -> (() => hour(d).cast("string")),
            "minute" -> (() => minute(d).cast("string")),
            "second" -> (() => second(d).cast("string")))
          val u = litStr("dateName", f.args.head).toLowerCase(java.util.Locale.ROOT)
          units.getOrElse(u, throw new IllegalArgumentException(
            s"ChSql: dateName: unsupported unit '$u'"))()

        // ---- decimal conversions (scale from the second argument) ----
        case "todecimal32" => a(0).cast(DecimalType(9, intArg(f.args(1))))
        case "todecimal64" => a(0).cast(DecimalType(18, intArg(f.args(1))))
        case "todecimal128" => a(0).cast(DecimalType(38, intArg(f.args(1))))

        // ---- array mutation family ----
        case "arraysort" | "arrayreversesort" if f.args.size == 2 &&
            f.args.head.isInstanceOf[LambdaE] =>
          // arraySort(k -> key, arr): sort by the key function — lift to
          // (key, value) structs, array_sort's natural struct order sorts
          // by the first field, then strip back to values
          val lam = f.args.head.asInstanceOf[LambdaE]
          val sorted = sort_array(transform(a(1), x => struct(
            translate(lam.body, env + (lam.params.head -> x)).as("k"),
            x.as("v"))), asc = nm == "arraysort")
          transform(sorted, s => s.getField("v"))
        case "arrayreversesort" => sort_array(a(0), asc = false)
        case "arraypushback" => concat(a(0), array(a(1)))
        case "arraypushfront" => concat(array(a(1)), a(0))
        case "arraypopback" =>
          slice(a(0), lit(1), greatest(size(a(0)) - 1, lit(0)))
        case "arraypopfront" =>
          slice(a(0), lit(2), greatest(size(a(0)) - 1, lit(0)))
        case "arrayfirst" => element_at(hof1(filter), 1)
        case "arraylast" => element_at(hof1(filter), -1)

        // ---- JSON ---- (visitParam* are CH's legacy simdjson-era names)
        case "jsonextractstring" | "json_value" | "visitparamextractstring" | "simplejsonextractstring" =>
          get_json_object(a(0), jsonPath(f.args.tail))
        case "jsonextractint" | "visitparamextractint" | "simplejsonextractint" =>
          get_json_object(a(0), jsonPath(f.args.tail)).cast(LongType)
        case "jsonextractfloat" | "visitparamextractfloat" | "simplejsonextractfloat" =>
          get_json_object(a(0), jsonPath(f.args.tail)).cast(DoubleType)
        case "jsonhas" =>
          get_json_object(a(0), jsonPath(f.args.tail)).isNotNull
        case "jsonextractbool" =>
          get_json_object(a(0), jsonPath(f.args.tail)).cast(BooleanType)
        case "jsonlength" =>
          json_array_length(
            if (f.args.size > 1) get_json_object(a(0), jsonPath(f.args.tail))
            else a(0))
        case "jsonextractkeys" =>
          json_object_keys(
            if (f.args.size > 1) get_json_object(a(0), jsonPath(f.args.tail))
            else a(0))
        case "jsonextractraw" | "visitparamextractraw" =>
          get_json_object(a(0), jsonPath(f.args.tail))

        // ---- URL ----
        case "domain" => parse_url(a(0), lit("HOST"))
        case "path" => parse_url(a(0), lit("PATH"))
        case "protocol" => split(a(0), ":").getItem(0)
        case "extracturlparameter" =>
          parse_url(a(0), lit("QUERY"), t(f.args(1)))
        case "querystring" => coalesce(parse_url(a(0), lit("QUERY")), lit(""))
        case "fragment" => coalesce(parse_url(a(0), lit("REF")), lit(""))
        case "querystringandfragment" =>
          val qs = parse_url(a(0), lit("QUERY"))
          val fr = parse_url(a(0), lit("REF"))
          concat(
            when(qs.isNotNull, concat(lit("?"), qs)).otherwise(lit("")),
            when(fr.isNotNull, concat(lit("#"), fr)).otherwise(lit("")))
        case "topleveldomain" =>
          element_at(split(parse_url(a(0), lit("HOST")), "\\."), -1)
        case "domainwithoutwww" =>
          regexp_replace(parse_url(a(0), lit("HOST")), "^www\\.", "")
        case "cutquerystring" => regexp_replace(a(0), "\\?[^#]*", "")
        case "cutfragment" => regexp_replace(a(0), "#.*$", "")
        case "cutquerystringandfragment" =>
          regexp_replace(a(0), "[?#].*$", "")
        case "cutwww" => regexp_replace(a(0), "^((?:[a-z]+://)?)www\\.", "$1")
        case "pathfull" =>
          regexp_replace(a(0), "^[a-z]+://[^/]*", "")
        case "decodeurlcomponent" => url_decode(a(0))
        case "encodeurlcomponent" => url_encode(a(0))
        case "netloc" => parse_url(a(0), lit("AUTHORITY"))
        case "firstsignificantsubdomain" =>
          // CH: the left-most label before the effective TLD, skipping
          // www — the common two-level heuristic (public-suffix lists are
          // config, not semantics)
          val host = regexp_replace(parse_url(a(0), lit("HOST")), "^www\\.", "")
          val parts = split(host, "\\.")
          when(size(parts) >= 2, element_at(parts, -2)).otherwise(host)

        // ---- IP ----
        case "ipv4numtostring" =>
          concat_ws(".",
            (a(0) / 16777216).cast(LongType) % 256,
            (a(0) / 65536).cast(LongType) % 256,
            (a(0) / 256).cast(LongType) % 256,
            a(0).cast(LongType) % 256)
        case "ipv4stringtonum" =>
          split(a(0), "\\.").getItem(0).cast(LongType) * 16777216 +
            split(a(0), "\\.").getItem(1).cast(LongType) * 65536 +
            split(a(0), "\\.").getItem(2).cast(LongType) * 256 +
            split(a(0), "\\.").getItem(3).cast(LongType)

        // ---- arrays ----
        case "array" => array(f.args.map(t): _*)
        case "arraymap" => hof1(transform)
        case "arrayfilter" => hof1(filter)
        case "arrayexists" => hof1(exists)
        case "arrayall" => hof1(forall)
        case "arraycount" =>
          if (f.args.size == 1) size(a(0))
          else size(hof1(filter))
        case "arraysum" =>
          aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast(DoubleType))
        case "arraysort" => sort_array(a(0))
        case "arrayreverse" => reverse(a(0))
        case "arraydistinct" => array_distinct(a(0))
        case "arrayconcat" => concat(f.args.map(t): _*)
        case "arrayuniq" => size(array_distinct(a(0)))
        case "countequal" => size(filter(a(0), x => x === a(1)))
        case "arrayresize" =>
          // arrayResize(arr, n[, fill]): truncate or pad to exactly n
          val n = t(f.args(1)).cast("int")
          val fill = if (f.args.size >= 3) t(f.args(2))
            else get(a(0), lit(Int.MaxValue)) // element-typed NULL
          val padded = concat(a(0),
            array_repeat(fill, greatest(n - size(a(0)), lit(0))))
          slice(padded, lit(1), n)
        case "totypename" =>
          // toTypeName(x): CH type-name introspection — typeof() mapped
          // through the canonical Spark→CH name table
          val sparkToCh = Seq("tinyint" -> "Int8", "smallint" -> "Int16",
            "int" -> "Int32", "bigint" -> "Int64", "float" -> "Float32",
            "double" -> "Float64", "string" -> "String", "date" -> "Date",
            "timestamp" -> "DateTime", "boolean" -> "Bool")
          val tf = call_function("typeof", a(0))
          sparkToCh.foldRight(tf: Column) { case ((sp, ch), acc) =>
            when(tf === sp, lit(ch)).otherwise(acc)
          }
        case "has" => array_contains(a(0), t(f.args(1)))
        case "hasany" => arrays_overlap(a(0), a(1))
        case "indexof" => array_position(a(0), t(f.args(1)))
        case "arrayelement" => element_at(a(0), t(f.args(1)))
        case "range" =>
          // guard the empty case: Spark's sequence defaults to step -1 when
          // hi < lo, so range(0) would yield [0,-1] instead of CH's []
          val (lo, hi) =
            if (f.args.size == 2) (a(0), a(1)) else (lit(0), a(0))
          when(hi <= lo, array().cast("array<int>"))
            .otherwise(sequence(lo, hi - 1))
        case "arrayenumerate" =>
          when(size(a(0)) === 0, array().cast("array<int>"))
            .otherwise(sequence(lit(1), size(a(0))))
        case "arrayslice" =>
          if (f.args.size == 3) slice(a(0), a(1), a(2))
          else slice(a(0), a(1), size(a(0)))
        case "arraystringconcat" =>
          if (f.args.size == 2) array_join(a(0), litStr("arrayStringConcat", f.args(1)))
          else array_join(a(0), "")
        // occurrence enumerations (ARRAY JOIN companions):
        // arrayEnumerateUniq = per-value occurrence counter,
        // arrayEnumerateDense = first-occurrence-ordered dense id
        case "arrayenumerateuniq" =>
          transform(a(0), (x, i) =>
            size(filter(slice(a(0), lit(1), i + 1), e => e === x)))
        case "arrayenumeratedense" =>
          transform(a(0), x => array_position(array_distinct(a(0)), x))
        case "arraydifference" => graft.operators.ChOps.arrayDifference(a(0))
        case "arraycumsum" => graft.operators.ChOps.arrayCumSum(a(0))
        case "arraycompact" => graft.operators.ChOps.arrayCompact(a(0))
        // arrayFill/arrayReverseFill: carry the last element that
        // satisfied the predicate over the ones that don't — an O(n)
        // left fold; slice(arr, 1, 0) is the TYPED empty accumulator
        case "arrayfill" | "arrayreversefill" =>
          val (lam0, arrE) = f.args.head match {
            case l: LambdaE => (l, f.args(1))
            case _ => (f.args(1).asInstanceOf[LambdaE], f.args.head)
          }
          def lam(c: Column): Column =
            translate(lam0.body, env + (lam0.params.head -> c)).cast("boolean")
          val fwd = nm == "arrayfill"
          val arr0 = t(arrE)
          val arrIn = if (fwd) arr0 else reverse(arr0)
          val filled = aggregate(arrIn, slice(arrIn, lit(1), lit(0)),
            (acc, x) => when(lam(x) || size(acc) === 0,
              concat(acc, array(x)))
              .otherwise(concat(acc, array(element_at(acc, -1)))))
          if (fwd) filled else reverse(filled)
        // arraySplit/arrayReverseSplit: cut before (resp. after) each
        // element the predicate marks; group id = predicate-true count in
        // the prefix, elements grouped by it (positions are 1-based)
        case "arraysplit" | "arrayreversesplit" =>
          val (lam0, arrE) = f.args.head match {
            case l: LambdaE => (l, f.args(1))
            case _ => (f.args(1).asInstanceOf[LambdaE], f.args.head)
          }
          def lam(c: Column): Column =
            translate(lam0.body, env + (lam0.params.head -> c)).cast("boolean")
          val arr = t(arrE)
          val before = nm == "arraysplit"
          // gid(i): true-count over positions 2..i (split-before) or
          // 1..i-1 (split-after) — both monotone, so last gid = max
          def gid(i: Column): Column = {
            val pre = if (before) slice(arr, lit(2), i - 1)
            else slice(arr, lit(1), i - 1)
            size(filter(pre, e => lam(e)))
          }
          val gids = transform(sequence(lit(1), size(arr)), i => gid(i))
          val emptyOuter = slice(array(arr), lit(1), lit(0))
          when(size(arr) === 0, emptyOuter).otherwise(
            transform(sequence(lit(0), element_at(gids, -1)), g =>
              filter(transform(sequence(lit(1), size(arr)),
                i => when(element_at(gids, i) === g, element_at(arr, i))),
                x => x.isNotNull)))
        // arrayAUC(scores, labels): exact pairwise formulation with
        // half-weight ties — NULL when a class is absent
        case "arrayauc" =>
          val s0 = a(0); val lb = a(1)
          val pos = filter(transform(sequence(lit(1), size(s0)), i =>
            when(element_at(lb, i) =!= 0, element_at(s0, i))),
            x => x.isNotNull)
          val neg = filter(transform(sequence(lit(1), size(s0)), i =>
            when(element_at(lb, i) === 0, element_at(s0, i))),
            x => x.isNotNull)
          val num = aggregate(pos, lit(0.0), (acc, p) =>
            acc + aggregate(neg, lit(0.0), (a2, q) =>
              a2 + when(p > q, 1.0).when(p === q, 0.5).otherwise(0.0)))
          when(size(s0) === 0, lit(null).cast("double")).otherwise(
            try_divide(num, size(pos).cast("double") * size(neg)))
        case "arrayflatten" | "flatten" => flatten(a(0))
        case "arraymin" => array_min(a(0))
        case "arraymax" => array_max(a(0))
        case "arrayavg" =>
          aggregate(a(0), lit(0.0), (acc, x) => acc + x.cast(DoubleType)) / size(a(0))
        case "arrayzip" => arrays_zip(f.args.map(t): _*)
        case "arrayintersect" => array_intersect(a(0), a(1))
        case "emptyarraytosingle" =>
          when(size(a(0)) === 0, array(lit(0))).otherwise(a(0))

        // ---- tuples ----
        case "tuple" => struct(f.args.map(t): _*)
        case "tupleelement" =>
          val idx = f.args(1) match {
            case NumLit(s) => s.toInt
            case other => throw new IllegalArgumentException(s"tupleElement index: $other")
          }
          // struct() fields are named col1..colN by position
          a(0).getField(s"col$idx")

        // ---- misc ----
        case "today" => current_date()
        case "now" => current_timestamp()
        case "rand" => rand()
        case "generateuuidv4" => expr("uuid()")
        case "retention" =>
          // CH retention(cond1, ..., condN): r[0] = cond1 held on any row;
          // r[i] = cond1 AND condi both held (pairwise, no ordering). Max
          // of indicators — partial-combinable, one aggregation pass.
          val ms = f.args.map(c => max(when(t(c), 1).otherwise(0)))
          array(ms.head +: ms.tail.map(mi => least(ms.head, mi)): _*)
        case "uniqupto" =>
          val cap = param(0) match {
            case NumLit(s) => s.toLong
            case other => throw new IllegalArgumentException(s"uniqUpTo param: $other")
          }
          least(countDistinct(a(0)), lit(cap + 1))
        case "topk" =>
          val kk = param(0) match {
            case NumLit(s) => s.toInt
            case other => throw new IllegalArgumentException(s"topK param: $other")
          }
          graft.plans.TopKAgg.topK(a(0), kk)
        case "summap" =>
          // scalar-pair form sumMap(k, v) ≡ CH sumMap([k], [v]); result is
          // a (sorted keys, sums) tuple addressable as .1 / .2
          graft.plans.SumMapAgg.sumMap(a(0), a(1))
        case "countdistinct" => countDistinct(a(0), f.args.tail.map(t): _*)
        // block-order navigation: valid only in the SELECT list of an
        // ORDER BY query, where buildSelectBody rewrites them into window
        // forms before translation ever reaches here
        case "neighbor" | "runningdifference" | "runningaccumulate" =>
          throw new IllegalArgumentException(
            s"ChSql: ${f.name} is only valid in the SELECT list of a " +
              "query with ORDER BY (rewritten to a window over that order)")
        case n2 if n2.startsWith("emptyarray") && f.args.isEmpty =>
          // emptyArray<Type>() constructors — typed empty array literals
          val chName = Map(
            "uint8" -> "UInt8", "uint16" -> "UInt16", "uint32" -> "UInt32",
            "uint64" -> "UInt64", "int8" -> "Int8", "int16" -> "Int16",
            "int32" -> "Int32", "int64" -> "Int64", "float32" -> "Float32",
            "float64" -> "Float64", "string" -> "String", "date" -> "Date",
            "datetime" -> "DateTime").getOrElse(
              n2.stripPrefix("emptyarray"),
              throw new IllegalArgumentException(
                s"ChSql: unknown function ${f.name}"))
          array().cast(org.apache.spark.sql.types.ArrayType(
            graft.model.ChTypes.toSpark(chName)))
        case other if sqlFuncs.contains(other) =>
          // SQL-function expansion: bind argument Columns to parameter
          // names and translate the stored body — the same lambdaEnv
          // channel HOF lambdas use, so nested calls and further macro
          // references compose naturally
          val (ps, body, _) = sqlFuncs(other)
          if (f.args.size != ps.size) throw new IllegalArgumentException(
            s"ChSql: function ${f.name} expects ${ps.size} argument(s), " +
              s"got ${f.args.size}")
          val d = macroDepth.get()
          if (d > 64) throw new IllegalArgumentException(
            s"ChSql: SQL function expansion too deep at ${f.name} " +
              "(mutually recursive functions?)")
          macroDepth.set(d + 1)
          try translate(body, env ++ ps.zip(f.args.map(t)))
          finally macroDepth.set(d)
        case other =>
          throw new IllegalArgumentException(s"ChSql: unknown function $other")
      }
    }

    /** CH sequence pattern sublanguage → (nSteps, per-transition gaps):
      * `(?N)` condition refs (must be 1..n in order), separated by nothing
      * (strict adjacency, 0), `.*` (any gap, −1), or `(?t<=S)` (max S
      * SECONDS between the matched events, stored as micros). */
    private def parseSeqPattern(p: String): (Int, Seq[Long]) = {
      val steps = Seq.newBuilder[Int]
      val gaps = Seq.newBuilder[Long]
      var i = 0
      var pendingGap: Option[Long] = Some(-2L) // sentinel: before first step
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"bad sequence pattern '$p': $msg")
      while (i < p.length) {
        if (p.startsWith("(?t<=", i)) {
          val end = p.indexOf(')', i)
          if (end < 0) fail("unterminated (?t<=")
          val secs = p.substring(i + 5, end).trim.toLong
          pendingGap = Some(secs * 1000000L)
          i = end + 1
        } else if (p.startsWith(".*", i)) {
          pendingGap = Some(-1L); i += 2
        } else if (p.startsWith("(?", i)) {
          val end = p.indexOf(')', i)
          if (end < 0) fail("unterminated (?")
          val n = p.substring(i + 2, end).trim.toInt
          steps += n
          pendingGap match {
            case Some(-2L) => // first step, no gap
            case Some(g) => gaps += g
            case None => gaps += 0L // nothing between two steps: adjacency
          }
          pendingGap = None
          i = end + 1
        } else fail(s"unexpected character at $i")
      }
      val st = steps.result()
      if (st.isEmpty) fail("no steps")
      if (st != (1 to st.size)) fail(s"steps must be 1..n in order, got $st")
      (st.size, gaps.result())
    }

    private def intArg(e: Expr): Int = e match {
      case NumLit(s) => s.toInt
      case other => throw new IllegalArgumentException(s"int literal expected: $other")
    }
    private def strArg(e: Expr): String = e match {
      case StrLit(s) => s
      case other => throw new IllegalArgumentException(s"string literal expected: $other")
    }
    /** A function argument that MUST be a string literal (trim set, regex
      * pattern, format string, dictionary name): pattern-matched so a
      * column/expression argument surfaces as a clear ChSql error naming
      * the function, not a raw ClassCastException. */
    private def litStr(fn: String, e: Expr): String = e match {
      case StrLit(s) => s
      case other => throw new IllegalArgumentException(
        s"ChSql: $fn expects a string literal at this argument " +
          s"(got expression $other)")
    }
    private def jsonPath(keys: Seq[Expr]): String =
      "$." + keys.map { case StrLit(s) => s
        case other => throw new IllegalArgumentException(s"JSON key: $other")
      }.mkString(".")

    /** CH formatDateTime %-codes → java.time pattern (subset). */
    private def chFormatToJava(f: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < f.length) {
        if (f(i) == '%' && i + 1 < f.length) {
          sb.append(f(i + 1) match {
            case 'Y' => "yyyy"; case 'y' => "yy"; case 'm' => "MM"
            case 'd' => "dd"; case 'H' => "HH"; case 'M' => "mm"
            case 'S' => "ss"; case 'F' => "yyyy-MM-dd"; case '%' => "%"
            case other => throw new IllegalArgumentException(s"format %$other")
          })
          i += 2
        } else { sb.append(f(i)); i += 1 }
      }
      sb.toString
    }
  }
}
