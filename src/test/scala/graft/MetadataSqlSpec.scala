package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MetadataSql
import graft.sources.CatalogSource

/** SQL-surface tests: the whole analysis runnable as plain Spark SQL. */
class MetadataSqlSpec extends AnyFunSuite with SparkSuite {

  private lazy val registered: Unit =
    MetadataSql.register(spark, CatalogSource.fixtureCatalog(spark).toDF())

  test("dependency edges queryable via SQL") {
    registered
    val n = spark.sql("SELECT count(*) AS n FROM graft_edges").head().getLong(0)
    assert(n == 17)
    val top = spark.sql(
      """SELECT src, fan_out FROM graft_fan_out
        |ORDER BY fan_out DESC, src LIMIT 1""".stripMargin).head()
    assert(top.getString(0) == "test.car" && top.getLong(1) == 3L)
  }

  test("isolated objects and classification via SQL") {
    registered
    val iso = spark.sql("SELECT id FROM graft_isolated_objects").collect()
      .map(_.getString(0))
    assert(iso.toSeq == Seq("test.orphan", "test.v_broken"))
    val cls = spark.sql(
      "SELECT cls FROM graft_node_classes WHERE id = 'test.v_household_flags'")
      .head().getString(0)
    assert(cls == "chView")
  }

  test("multi-hop lineage via SQL over the closure") {
    registered
    val twoHop = spark.sql(
      """SELECT src, dst FROM graft_closure WHERE depth = 2
        |ORDER BY src, dst""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(twoHop.contains(("test.pet", "test.v_city_household_flag_stats")))
  }

  test("objects_by_engine rollup via SQL") {
    registered
    val m = spark.sql(
      "SELECT engine, n FROM graft_objects_by_engine ORDER BY engine").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("MergeTree") == 6L)
    assert(m("View") == 8L)
  }
}
