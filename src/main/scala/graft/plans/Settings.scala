package graft.plans

import org.apache.spark.sql.SparkSession

/** `SET` statements (setStmt, ClickHouseParser.py:11949-12010) and
  * per-query `SETTINGS` clauses (settingsClause,
  * ClickHouseParser.py:10271-10314) mapped onto Spark's runtime SQL
  * configuration.
  *
  * ClickHouse settings are session- or query-scoped knobs; Spark's
  * equivalents are `spark.conf` entries (session-scoped, runtime-settable).
  * The translation table below covers the settings that have a faithful
  * Spark twin — each row is (CH setting → Spark conf, value mapping).
  * Settings with no Spark counterpart (e.g. MergeTree part knobs) are
  * reported via [[translate]] returning None so callers can warn rather
  * than silently drop them.
  *
  * Query-scoped `SETTINGS` (CH applies them to one statement only) maps to
  * [[withSettings]]: set → run → restore, so the session state is
  * untouched afterwards — the same observable contract.
  */
object Settings {

  /** CH boolean settings use 0/1; Spark registered boolean confs accept
    * only "true"/"false" (conf.set validates and throws on "1"). Anything
    * outside 0/1/true/false is rejected, matching CH's strict setting
    * parser — coercing garbage to "true" would silently flip behavior. */
  private val asBool: String => String = v =>
    if (v == "1" || v.equalsIgnoreCase("true")) "true"
    else if (v == "0" || v.equalsIgnoreCase("false")) "false"
    else throw new IllegalArgumentException(
      s"invalid boolean setting value '$v' (expected 0/1/true/false)")

  /** CH setting name → (Spark conf key, value translator). */
  val mapping: Map[String, (String, String => String)] = Map(
    // parallelism: CH max_threads bounds query threads; the Spark twin for
    // the exchange-side degree is the shuffle partition count
    "max_threads" -> (("spark.sql.shuffle.partitions", identity[String] _)),
    // CH distributed_product_mode=allow ⇔ permitting cross joins
    "distributed_product_mode" ->
      (("spark.sql.crossJoin.enabled", v => if (v == "deny") "false" else "true")),
    // join_algorithm: 'hash' prefers broadcast/shuffled-hash,
    // 'full_sorting_merge' prefers sort-merge
    "join_algorithm" ->
      (("spark.sql.join.preferSortMergeJoin",
        v => if (v == "full_sorting_merge" || v == "partial_merge") "true" else "false")),
    // max_block_size is a ROW-count knob (default 65536); Spark's input
    // split sizing is bytes — no faithful twin, so it is deliberately
    // unmapped (translate returns None) rather than a unit-confusing map.
    // query-result limits: CH caps result rows, Spark has no direct cap —
    // nearest is driver-protection via maxResultSize (bytes, not rows);
    // deliberately unmapped (None) rather than a lying approximation
    // timezone
    "session_timezone" -> (("spark.sql.session.timeZone", identity[String] _)),
    // CH optimize_read_in_order ⇔ radix/codegen sort toggles are internal;
    // the honest Spark twin for scan-order optimization:
    "optimize_read_in_order" ->
      (("spark.sql.sources.bucketing.enabled", asBool)),
    // aggregation memory ceiling before spill
    "max_bytes_before_external_group_by" ->
      (("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        identity[String] _)))

  /** Translate one CH setting; None = no faithful Spark twin. */
  def translate(name: String, value: String): Option[(String, String)] =
    mapping.get(name).map { case (key, f) => key -> f(value) }

  /** Session-level `SET` history, backing `SHOW CHANGED SETTINGS`
    * (showStmt SETTINGS alternative, ClickHouseParser.py:12204-12273).
    * Statement-scoped `SETTINGS` clauses go through [[withSettings]] and
    * are restored, so they do not count as changed. */
  private val sessionChanged = scala.collection.mutable.Set.empty[String]

  def changedNames: Set[String] =
    sessionChanged.synchronized(sessionChanged.toSet)

  /** Apply a `SET name = value, ...` statement to the session. Returns the
    * (sparkKey → value) pairs applied and the names skipped as unmappable.
    * `record=false` (the [[withSettings]] path) keeps the change out of
    * the `SHOW CHANGED SETTINGS` history. */
  /** `SET param_<name> = v` stores a query-parameter value (queryParameter
    * `{name:Type}` substitution) — session-scoped, like CH. */
  def getParam(spark: SparkSession, name: String): Option[String] =
    spark.conf.getOption(s"graft.param.$name")

  def applySet(spark: SparkSession, settings0: Map[String, String],
      record: Boolean = true): (Map[String, String], Seq[String]) = {
    val (params, settings) = settings0.partition(_._1.startsWith("param_"))
    params.foreach { case (k, v) =>
      spark.conf.set(s"graft.param.${k.stripPrefix("param_")}", v)
    }
    val (mapped, unmapped) = settings.partition { case (k, _) => mapping.contains(k) }
    val applied = mapped.map { case (k, v) =>
      val (key, value) = translate(k, v).get
      spark.conf.set(key, value)
      if (record) sessionChanged.synchronized(sessionChanged += k)
      key -> value
    }
    (applied ++ params.map { case (k, v) =>
      s"graft.param.${k.stripPrefix("param_")}" -> v },
      unmapped.keys.toSeq.sorted)
  }

  /** Rows for `SHOW [CHANGED] SETTINGS`: every CH setting with a Spark
    * twin, its current session value (read back through the mapped conf
    * key), whether a session-level SET touched it, and the conf key it
    * maps to — the honest rendering of this engine's settings model. */
  def settingsRows(spark: SparkSession): Seq[(String, String, Boolean, String)] =
    mapping.keys.toSeq.sorted.map { name =>
      val key = mapping(name)._1
      (name, spark.conf.getOption(key).orNull,
        changedNames.contains(name), key)
    }

  /** Parse the textual form `SET a = 1, b = 'x'` (setStmt grammar) on
    * the ChSql lexer: a comma inside a quoted value (e.g.
    * `session_timezone = 'America/Argentina,...'`) or a comment does not
    * split the pairs. Malformed pairs (no `=`) raise a clear error. */
  def parseSet(stmt: String): Map[String, String] =
    parseSet(new graft.chsql.ChSql.Cur(stmt))

  /** [[parseSet]] over an already-lexed statement. */
  private[graft] def parseSet(c: graft.chsql.ChSql.Cur): Map[String, String] = {
    c.eatKw("SET")
    val (from, until) = c.rest()
    c.pairs(from, until, "SET pair").toMap
  }

  /** Query-scoped `SETTINGS`: apply, run, restore — the statement-local
    * scope of a CH settings clause. */
  def withSettings[T](spark: SparkSession, settings: Map[String, String])(body: => T): T = {
    val sparkKeys = settings.keys.flatMap(k => mapping.get(k).map(_._1)).toSeq
    val saved = sparkKeys.map(k => k -> spark.conf.getOption(k)).toMap
    applySet(spark, settings, record = false)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
