package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftFunctions
import graft.functions.PortableHash

/** Native expressions callable from plain Spark SQL after registration. */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  test("graft_char_fold matches the Column API value") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val viaSql = spark.sql("SELECT graft_char_fold('spark engine test')")
      .head().getLong(0)
    val viaCol = Seq("spark engine test").toDF("s")
      .select(PortableHash.charFold(org.apache.spark.sql.functions.col("s")))
      .head().getLong(0)
    assert(viaSql == viaCol)
    // cross-checked against DuckDB's list_reduce re-derivation (887266515
    // for this input, same constants)
    assert(viaSql == 887266515L)
  }

  test("graft_dot and graft_minhash usable in SQL") {
    GraftFunctions.register(spark)
    val d = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
      .head().getDouble(0)
    assert(d == 32.0)
    val sig = spark.sql("SELECT graft_minhash(array(5L, 9L, 2L), 4)")
      .head().getSeq[Long](0)
    assert(sig.length == 4)
    assert(sig.head == 3L) // min of (h*1+1) % Mod over {5,9,2} = 2*1+1
  }

  test("graft_simhash / graft_shingle_hashes / funnel + sequence folds in SQL") {
    GraftFunctions.register(spark)
    // simhash of a single hash = its low 32 bits' set pattern
    val sh = spark.sql("SELECT graft_simhash(array(5L))").head().getLong(0)
    assert(sh == 5L) // bits 0 and 2 positive, rest negative
    val sg = spark.sql("SELECT graft_shingle_hashes('a b c', 2)")
      .head().getSeq[Long](0)
    assert(sg.length == 2) // "a b", "b c"
    // signup(t=1) click(t=2) → depth 2 within window 100
    val lvl = spark.sql(
      "SELECT graft_funnel_level(array(10L, 21L), 2, 100L)").head().getInt(0)
    assert(lvl == 2)
    // two complete 2-step chains
    val nc = spark.sql(
      "SELECT graft_sequence_count(array(10L, 21L, 30L, 41L), 2)")
      .head().getLong(0)
    assert(nc == 2L)
  }

  test("graft_top_k aggregate in SQL") {
    GraftFunctions.register(spark)
    val top = spark.sql(
      "SELECT graft_top_k(v, 2) FROM VALUES ('a'), ('b'), ('a'), ('c') AS t(v)")
      .head().getSeq[String](0)
    assert(top == Seq("a", "b")) // a:2, then b before c at count 1
  }
}
