package graft

import graft.chsql.ChSql
import java.nio.file.{Files, Paths}

/** DuckDB third leg of the differential fuzz gate (VERDICT r8 §next-1).
  *
  * The in-JVM gate ([[FuzzParitySpec]]) compares two independent PARSERS
  * (ChSql translator vs spark.sql) on one ENGINE — an engine-level
  * semantic bug (null ordering, overflow, collation) passes both legs
  * identically. This main renders each generated AST a third way — DuckDB
  * SQL ([[FuzzGrammar.P.dk]]) — executes the CH leg here, and dumps one
  * JSON line per seed: {seed, arm, dk, rows} with rows in the shared
  * canonical multiset form ([[FuzzGrammar.canon]]). The Python half
  * (`tools/fuzz_duck_check.py`) replays `dk` in DuckDB over the same
  * parquet fixtures, canonicalizes by the same rules, and multiset-
  * compares — a genuinely engine-independent differential sweep.
  *
  * Usage: sbt "Test/runMain graft.FuzzDuckDump <sfDir> <out.jsonl> <nSeeds>"
  * then:  python3 tools/fuzz_duck_check.py <sfDir> <out.jsonl>
  */
object FuzzDuckDump {
  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append("\"").result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "/tmp/fuzz_duck.jsonl"
    val nSeeds = if (args.length > 2) args(2).toInt else 200
    val spark = Session.local()
    spark.read.parquet(s"$sfDir/orders.parquet")
      .createOrReplaceTempView("orders")
    spark.read.parquet(s"$sfDir/customer.parquet")
      .createOrReplaceTempView("customer")
    def resolve(n: String) = spark.table(n)

    val sb = new StringBuilder
    var failed = 0
    for (seed <- 1 to nSeeds) {
      val (arm, q) = new FuzzGrammar.G(seed).namedQuery()
      try {
        val rows = FuzzGrammar.canon(ChSql.sql(spark, q.ch)(resolve).collect())
        sb.append(s"""{"seed":$seed,"arm":${jstr(arm)},"dk":${jstr(q.dk)},""")
          .append(s""""rows":[${rows.map(jstr).mkString(",")}]}""").append('\n')
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[fuzz-dump] seed $seed ($arm) CH leg failed: " +
            s"${e.getMessage}\n  CH: ${q.ch}")
      }
    }
    Files.writeString(Paths.get(out), sb.result())
    println(s"[fuzz-dump] wrote ${nSeeds - failed}/$nSeeds seeds to $out" +
      (if (failed > 0) s" ($failed CH-leg failures — fix those first)" else ""))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
