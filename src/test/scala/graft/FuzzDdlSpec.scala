package graft

import org.scalatest.funsuite.AnyFunSuite

/** In-JVM legs of the DDL/session fuzz gate (generator: [[FuzzDdl]]).
  * Per seed: run the generated session through `ChSql.statement`, then
  *  1. final SELECT must equal the pure-Scala model state;
  *  2. SHOW CREATE must round-trip (execute the emitted text under a new
  *     name; its own SHOW CREATE must match modulo the name);
  *  3. engine arms: `SELECT … FINAL` ≡ model collapse, and
  *     OPTIMIZE FINAL + plain SELECT ≡ the same collapse.
  * The DuckDB third leg is [[FuzzDdlDump]] + tools/fuzz_ddl_duck_check.py.
  */
class FuzzDdlSpec extends AnyFunSuite with SparkSuite {

  private def chRun(s: String): Seq[org.apache.spark.sql.Row] = {
    def resolve(n: String) =
      if (spark.catalog.tableExists(n)) graft.chsql.ChDdl.readTable(spark, n)
      else spark.table(n)
    graft.chsql.ChSql.statement(spark, s)(resolve)._1.collect().toSeq
  }

  // CI runs 30 seeds (3 per arm); GRAFT_FUZZ_DDL_SEEDS=N extends the hunt
  private val nSeeds =
    sys.env.get("GRAFT_FUZZ_DDL_SEEDS").map(_.toInt).getOrElse(30)

  test(s"$nSeeds generated DDL sessions: model, SHOW CREATE round-trip, " +
      "FINAL ≡ OPTIMIZE FINAL") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val armHits = scala.collection.mutable.Map.empty[String, Int]
    var nonEmpty = 0
    for (seed <- 1 to nSeeds) {
      val s = FuzzDdl.gen(seed)
      armHits(s.arm) = armHits.getOrElse(s.arm, 0) + 1
      def ctx = s"seed $seed (${s.arm})\n  session:\n    " +
        s.chStmts.mkString("\n    ")
      try {
        chRun(s"DROP TABLE IF EXISTS ${s.table}")
        chRun(s"DROP TABLE IF EXISTS ${s.table}_rt")
        s.extraTables.foreach(x => chRun(s"DROP TABLE IF EXISTS $x"))
        s.chStmts.foreach(chRun)
        // 0. refusal contract (null_guard): NULL-into-non-Nullable
        // writes must raise — and leave state untouched, which check 1
        // re-verifies right after
        s.refusals.foreach { case (chStmt, _) =>
          val refused =
            try { chRun(chStmt); false } catch { case _: Throwable => true }
          if (!refused)
            failures += s"$ctx\n  EXPECTED REFUSAL but statement " +
              s"succeeded: $chStmt"
        }
        // 1. final state ≡ model
        val got = FuzzGrammar.canon(chRun(s.finalSelect).toArray)
        val want = FuzzDdl.canonModel(s.modelRows)
        if (got.nonEmpty) nonEmpty += 1
        if (got != want)
          failures += s"$ctx\n  FINAL-STATE MISMATCH (${got.size} vs " +
            s"${want.size} rows)\n  got-only: ${got.diff(want).take(3)}" +
            s"\n  model-only: ${want.diff(got).take(3)}"
        // 2. SHOW CREATE round-trip
        val sc1 = chRun(s"SHOW CREATE TABLE ${s.table}").head.getString(0)
        chRun(sc1.replace(s.table, s"${s.table}_rt"))
        val sc2 = chRun(s"SHOW CREATE TABLE ${s.table}_rt").head.getString(0)
        if (sc2.replace(s"${s.table}_rt", s.table) != sc1)
          failures += s"$ctx\n  SHOW CREATE ROUND-TRIP DIVERGED\n  " +
            s"first:\n$sc1\n  second:\n$sc2"
        // 3. engine arms: read-time FINAL ≡ model collapse ≡ post-OPTIMIZE
        for (cc <- s.collapsed; finSel <- s.finalSelectFinal) {
          val wantC = FuzzDdl.canonModel(cc)
          val gotFin = FuzzGrammar.canon(chRun(finSel).toArray)
          if (gotFin != wantC)
            failures += s"$ctx\n  SELECT FINAL != model collapse" +
              s"\n  got-only: ${gotFin.diff(wantC).take(3)}" +
              s"\n  model-only: ${wantC.diff(gotFin).take(3)}"
          chRun(s"OPTIMIZE TABLE ${s.table} FINAL")
          val gotOpt = FuzzGrammar.canon(chRun(s.finalSelect).toArray)
          if (gotOpt != wantC)
            failures += s"$ctx\n  post-OPTIMIZE-FINAL state != model collapse" +
              s"\n  got-only: ${gotOpt.diff(wantC).take(3)}" +
              s"\n  model-only: ${wantC.diff(gotOpt).take(3)}"
        }
      } catch {
        case e: Throwable =>
          failures += s"$ctx\n  ERROR: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(3)
              .mkString(" / ")}"
      } finally {
        (Seq(s.table, s"${s.table}_rt") ++ s.extraTables).foreach { x =>
          try chRun(s"DROP TABLE IF EXISTS $x") catch { case _: Throwable => }
        }
      }
      if (failures.size >= 5) fail(failures.mkString("\n\n"))
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
    // vacuity guard: sessions ending in rows (TRUNCATE/DELETE-all seeds
    // are legitimate but must not dominate)
    assert(nonEmpty >= nSeeds / 2,
      s"only $nonEmpty/$nSeeds sessions ended non-empty")
    // arm coverage: arms cycle with the seed, so any N >= armNames.size
    // consecutive seeds cover all of them — guards future arm-count changes
    val missed = FuzzDdl.armNames.filterNot(armHits.contains)
    assert(missed.isEmpty,
      s"arms never generated in $nSeeds seeds: ${missed.mkString(", ")}")
  }
}
