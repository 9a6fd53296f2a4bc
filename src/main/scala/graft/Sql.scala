package graft

/** User-facing CH-SQL runner: execute ClickHouse statements against a
  * directory of parquet tables (table `t` resolves to `<dir>/t.parquet`).
  *
  * Usage: runMain graft.Sql <tableDir> "<CH SQL>" [maxRows]
  *
  * This is the reference's query surface as a command line — the same
  * translator the ch* oracle entries go through (graft.chsql.ChSql), so
  * anything it prints is covered by the cross-engine gate.
  */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Sql <tableDir> \"<CH SQL>\" [maxRows]")
    val spark = Session.local()
    try run(spark, args(0), args(1), if (args.length > 2) args(2).toInt else 50)
    finally spark.stop()
  }

  /** Run a ';'-separated script against the tables of `dir`, printing
    * each statement's result. */
  private[graft] def run(spark: org.apache.spark.sql.SparkSession, dir: String,
      query: String, maxRows: Int): Unit = {
    // catalog-first resolution so CREATE VIEW results are queryable;
    // otherwise table t reads <dir>/t.parquet
    def resolve(n: String): org.apache.spark.sql.DataFrame =
      if (spark.catalog.tableExists(n)) spark.table(n)
      else spark.read.parquet(s"$dir/$n.parquet")
    // ';'-separated statements, each dispatched through the statement
    // layer
    val stmts = splitStatements(query)
    for ((stmt, i) <- stmts.zipWithIndex) {
      val c = new chsql.ChSql.Cur(stmt)
      // SHOW TABLES also lists the directory's tables — a CLI concern, so
      // the names are added here, on the shared SHOW TABLES reader
      if (c.eatKw("SHOW", "TABLES")) {
        val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet"))
          .map(_.getName.stripSuffix(".parquet"))
        render(chsql.ChDdl.showTables(spark, c, files), None, maxRows)
      } else {
        // run under a query id so KILL QUERY / SHOW PROCESSLIST see it
        operators.AdminOps.withQueryId(spark, s"cli-$i", stmt) {
          val (df, fmt) = chsql.ChSql.statement(spark, c)(resolve)
          render(df, fmt, maxRows)
        }
      }
    }
  }

  /** Split a script on its `;` tokens. The split rides the ChSql lexer, so
    * a `;` inside a string literal (escaped quotes included), a backquoted
    * identifier or a comment does not end a statement; the inline rows of
    * an `INSERT ... FORMAT f` are data and run to the end of the script.
    * Blank statements are dropped. */
  def splitStatements(script: String): Seq[String] = {
    val cuts = chsql.ChSql.lexPos(script).collect {
      case (chsql.ChSql.TP(";"), start, _) => start
    }
    val bounds = (-1 +: cuts) :+ script.length
    bounds.zip(bounds.tail).map { case (a, b) => script.substring(a + 1, b).trim }
      .filter(_.nonEmpty)
  }

  private def render(df: org.apache.spark.sql.DataFrame,
      fmt: Option[String], maxRows: Int): Unit = {
    // standalone `FORMAT f` (formatClause, ClickHouseParser.py:1765-1775)
    // picks the wire rendering; default is the Pretty-style ASCII table
    fmt.map(_.toLowerCase).getOrElse("pretty") match {
      case "jsoneachrow" =>
        df.toJSON.take(maxRows).foreach(println)
      case "tabseparated" | "tsv" =>
        df.take(maxRows).foreach(r => println(r.toSeq.mkString("\t")))
      case "tabseparatedwithnames" | "tsvwithnames" =>
        println(df.columns.mkString("\t"))
        df.take(maxRows).foreach(r => println(r.toSeq.mkString("\t")))
      case "csvwithnames" =>
        println(df.columns.mkString(","))
        df.take(maxRows).foreach(r => println(r.toSeq.mkString(",")))
      case "csv" =>
        df.take(maxRows).foreach(r => println(r.toSeq.mkString(",")))
      case _ => df.show(maxRows, truncate = false)
    }
  }
}
