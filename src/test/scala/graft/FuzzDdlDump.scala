package graft

/** DuckDB third leg of the DDL/session fuzz gate: run each generated
  * session ([[FuzzDdl]]) through the REAL engine, record the engine's
  * actual final state (and, for engine arms, its `SELECT … FINAL` state),
  * and emit the session's DuckDB script so
  * `tools/fuzz_ddl_duck_check.py` can replay CREATE/INSERT/UPDATE/DELETE
  * (+ collapse CTEs) in an independent engine and compare end states.
  *
  * Usage: Test/runMain graft.FuzzDdlDump /tmp/fuzz_ddl.jsonl 200
  */
object FuzzDdlDump {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/fuzz_ddl.jsonl"
    val n = if (args.length > 1) args(1).toInt else 200
    val spark = Session.local()

    def chRun(s: String): Seq[org.apache.spark.sql.Row] = {
      def resolve(nm: String) =
        if (spark.catalog.tableExists(nm))
          graft.chsql.ChDdl.readTable(spark, nm)
        else spark.table(nm)
      graft.chsql.ChSql.statement(spark, s)(resolve)._1.collect().toSeq
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    val w = new java.io.PrintWriter(new java.io.File(out))
    // Meta header: the checker asserts every arm listed here appears in
    // the replayed histogram, so a dump compiled against a stale grammar
    // (fewer arms than the source) can no longer pass silently.
    w.println(s"""{"meta": true, "arms": [${FuzzDdl.armNames.map(jstr)
      .mkString(", ")}], "seeds": $n}""")
    var errors = 0
    for (seed <- 1 to n) {
      val s = FuzzDdl.gen(seed)
      try {
        chRun(s"DROP TABLE IF EXISTS ${s.table}")
        s.extraTables.foreach(x => chRun(s"DROP TABLE IF EXISTS $x"))
        s.chStmts.foreach(chRun)
        // refusal contract: the engine must raise on each attempt (the
        // duck side of each pair is emitted for the checker to replay)
        s.refusals.foreach { case (chStmt, _) =>
          val refused =
            try { chRun(chStmt); false } catch { case _: Throwable => true }
          if (!refused)
            sys.error(s"EXPECTED REFUSAL but statement succeeded: $chStmt")
        }
        val rows = FuzzGrammar.canon(chRun(s.finalSelect).toArray)
        val rows2 = s.finalSelectFinal.map(q =>
          FuzzGrammar.canon(chRun(q).toArray))
        val base = Seq(
          s""""seed": $seed""",
          s""""arm": ${jstr(s.arm)}""",
          s""""setup": [${s.duckSetup.map(jstr).mkString(", ")}]""",
          s""""refusals": [${s.refusals.map(r => jstr(r._2))
            .mkString(", ")}]""",
          s""""final_sql": ${jstr(s.duckFinal)}""",
          s""""rows": [${rows.map(jstr).mkString(", ")}]""")
        val extra = (rows2, s.duckFinalCollapsed) match {
          case (Some(r2), Some(q2)) => Seq(
            s""""final_sql2": ${jstr(q2)}""",
            s""""rows2": [${r2.map(jstr).mkString(", ")}]""")
          case _ => Nil
        }
        w.println((base ++ extra).mkString("{", ", ", "}"))
      } catch {
        case e: Throwable =>
          errors += 1
          System.err.println(s"seed $seed ENGINE ERROR: ${e.getMessage}")
      } finally {
        (s.table +: s.extraTables).foreach { x =>
          try chRun(s"DROP TABLE IF EXISTS $x")
          catch { case _: Throwable => }
        }
      }
    }
    w.close()
    println(s"Wrote $out ($n seeds, $errors engine errors)")
    spark.stop()
    if (errors > 0) sys.exit(1)
  }
}
