package graft
package registry

import org.apache.spark.sql.functions._
import graft.operators.Mutations

/** The d family: ALTER-style mutations (delete, update) written
  * through [[graft.operators.Mutations]] and read back.
  */
object DFamily {

  /** The returned frame reads the rewritten directory lazily, so it can
    * only go when the JVM exits. */
  private def deleteOnExit(dir: String): Unit =
    org.apache.commons.io.FileUtils.forceDeleteOnExit(new java.io.File(dir))

  val entries: Seq[Entry] = Seq(
    // ALTER TABLE ... DELETE WHERE (ClickHouseParser.py:2324-2344) as the
    // real mutation job: copy → distributed rewrite → read the result.
    // The transform is a row-local anti-filter — no shuffle, codegen'd.
    Entry("d1_mutation_delete", (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_d1").toString
      Mutations.rewriteTable(s, s"$dir/orders.parquet", out,
        df => Mutations.delete(df,
          col("o_orderstatus") === "F" && col("o_totalprice") < 50000.0))
      deleteOnExit(out)
      s.read.parquet(out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000.0)
        |ORDER BY o_orderkey""".stripMargin),

    // ALTER TABLE ... UPDATE col = expr WHERE (ClickHouseParser.py:2242-2263):
    // conditional column replacement, rewrite-on-write. +100.0 is IEEE-exact
    // on both engines (no rounding divergence).
    Entry("d2_mutation_update", (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_d2").toString
      Mutations.rewriteTable(s, s"$dir/orders.parquet", out,
        df => Mutations.update(df,
          Seq("o_totalprice" -> (col("o_totalprice") + lit(100.0))),
          col("o_orderpriority") === "1-URGENT"))
      deleteOnExit(out)
      s.read.parquet(out)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 100.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin),
  )
}
