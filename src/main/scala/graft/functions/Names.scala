package graft.functions

/** Identifier cleaning / qualification with exact behavioral parity to the
  * reference helpers (ch_view_dependencies.py:65-98). Pure functions, used
  * both driver-side and inside the lineage UDF.
  */
object Names {

  /** Remove common ClickHouse identifier quoting.
    * Parity: `clean_ident`, ch_view_dependencies.py:65-73 — strips one
    * leading/trailing backtick, double-quote, or square bracket, then
    * collapses doubled backticks/quotes. */
  def clean(s0: String): String = {
    val s = Quoting.matcher(s0.trim).replaceAll("")
    s.replace("``", "`").replace("\"\"", "\"")
  }

  /** Compiled once: [[clean]] runs for every table reference. */
  private val Quoting = java.util.regex.Pattern.compile("(^`|`$|^\"|\"$|^\\[|\\]$)")

  /** Split `db.table` → (Some(db), table); unqualified → (None, name).
    * Parity: `split_qualified`, ch_view_dependencies.py:75-84 — note the
    * reference treats a 3+-part name as a single unqualified name (dots
    * kept), a quirk we preserve. */
  def splitQualified(name: String): (Option[String], String) = {
    val parts = name.trim.split("\\.", -1)
    if (parts.length == 2) (Some(clean(parts(0))), clean(parts(1)))
    else (None, clean(name.trim))
  }

  /** Normalize to `db.table` when db is known, else qualify with
    * `defaultDb`, else bare table.
    * Parity: `normalize_table_name`, ch_view_dependencies.py:86-98 —
    * Python truthiness means an *empty* db string falls through to the
    * default, which we preserve via `filter(_.nonEmpty)`. */
  def normalize(raw: String, defaultDb: Option[String]): String = {
    val (db, tbl) = splitQualified(raw)
    db.filter(_.nonEmpty).map(d => s"$d.$tbl")
      .orElse(defaultDb.filter(_.nonEmpty).map(d => s"$d.$tbl"))
      .getOrElse(tbl)
  }
}
