package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.CatalogObject

/** Catalog readers: `system.tables`-shaped snapshots (Parquet/JSON, explicit
  * schema — never inferred, SURVEY.md §1.1) plus the built-in household
  * fixture (FIXTURES.md §2) used for offline runs and tests.
  *
  * Reference semantics ported (S1/S2/S3, SURVEY.md §2.1):
  *  - view-kind iff the engine contains "View", which covers
  *    View/MaterializedView/LiveView (ch_view_dependencies.py:302-303);
  *  - system databases excluded (ch_view_dependencies.py:298, 315);
  *  - deterministic ORDER BY database, name (ch_view_dependencies.py:305, 322);
  *  - DDL is a column of the snapshot — the reference's per-view N+1
  *    `SHOW CREATE TABLE` round-trips (ch_view_dependencies.py:326-344)
  *    collapse into the single scan (noted divergence, SURVEY.md §2.1 S3).
  */
object CatalogSource {

  /** Explicit snapshot schema (FIXTURES.md §1). */
  val schema: StructType = StructType(Seq(
    StructField("database", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("engine", StringType, nullable = false),
    StructField("create_table_query", StringType, nullable = true)))

  /** Databases every analysis leaves out (ch_view_dependencies.py:298, 315). */
  val systemDbs: Seq[String] = Seq("system", "INFORMATION_SCHEMA", "information_schema")

  /** The one view-kind rule (S1): the engine name contains "View" — View,
    * MaterializedView, LiveView, WindowView. */
  val isView: Column = col("engine").contains("View")

  private def userDbs(df: DataFrame, includeSystem: Boolean): DataFrame =
    if (includeSystem) df else df.filter(!col("database").isin(systemDbs: _*))

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Live-server catalog source over JDBC (the snapshot-free mode; the
    * reference connects over HTTP with clickhouse_connect,
    * ch_view_dependencies.py:283-291). Filters on database/engine push
    * down to the server exactly as the reference's WHERE clauses do. Not
    * exercisable in this offline environment — requires a ClickHouse
    * JDBC driver on the classpath and a reachable server. */
  def readJdbc(spark: SparkSession, url: String,
      properties: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url,
      "(SELECT database, name, engine, create_table_query FROM system.tables) t",
      properties)

  /** S1: view-kind catalog objects, system DBs excluded, ordered. */
  def views(catalog: DataFrame, includeSystem: Boolean = false): DataFrame =
    userDbs(catalog.filter(isView), includeSystem).orderBy("database", "name")

  /** S2: non-view catalog objects, system DBs excluded, ordered. */
  def tables(catalog: DataFrame, includeSystem: Boolean = false): DataFrame =
    userDbs(catalog.filter(!isView), includeSystem).orderBy("database", "name")

  /** Single-pass alternative: one scan, a derived `kind` column
    * (SURVEY.md §1.1) — preferred at scale over two scans. */
  def withKind(catalog: DataFrame): DataFrame =
    catalog.withColumn("kind",
      when(isView, "view").otherwise("table"))

  /** Built-in household fixture catalog (FIXTURES.md §2): 5 base tables and
    * 7 views whose DDL yields exactly the lineage documented in the
    * reference README.md:12-30 and tests/test_mermaid_deps.py:12-52. */
  def fixtureCatalog(spark: SparkSession): Dataset[CatalogObject] = {
    import spark.implicits._
    val mt = "MergeTree"
    val objs = Seq(
      CatalogObject("test", "household", mt, Some(
        "CREATE TABLE test.household (household_id UInt64, city String) ENGINE = MergeTree ORDER BY household_id")),
      CatalogObject("test", "human", mt, Some(
        "CREATE TABLE test.human (human_id UInt64, household_id UInt64, name String) ENGINE = MergeTree ORDER BY human_id")),
      CatalogObject("test", "household_member", mt, Some(
        "CREATE TABLE test.household_member (household_id UInt64, human_id UInt64, role String) ENGINE = MergeTree ORDER BY (household_id, human_id)")),
      CatalogObject("test", "car", mt, Some(
        "CREATE TABLE test.car (car_id UInt64, household_id UInt64, model String) ENGINE = MergeTree ORDER BY car_id")),
      CatalogObject("test", "pet", mt, Some(
        "CREATE TABLE test.pet (pet_id UInt64, household_id UInt64, species String) ENGINE = MergeTree ORDER BY pet_id")),
      // referenced by no view — exercises isolated-object detection (G5)
      CatalogObject("test", "orphan", mt, Some(
        "CREATE TABLE test.orphan (id UInt64) ENGINE = MergeTree ORDER BY id")),
      CatalogObject("test", "v_car_inventory", "View", Some(
        """CREATE VIEW test.v_car_inventory AS
          |SELECT c.car_id, c.model, h.city, hu.name AS owner
          |FROM test.car AS c
          |JOIN test.household AS h ON c.household_id = h.household_id
          |LEFT JOIN human AS hu ON hu.household_id = h.household_id""".stripMargin)),
      CatalogObject("test", "v_household_flags", "View", Some(
        """CREATE VIEW test.v_household_flags AS
          |SELECT hh.household_id,
          |       countIf(p.pet_id IS NOT NULL) > 0 AS has_pet,
          |       countIf(c.car_id IS NOT NULL) > 0 AS has_car,
          |       countIf(m.role = 'child') > 0 AS has_child
          |FROM test.household AS hh
          |LEFT JOIN test.pet AS p ON p.household_id = hh.household_id
          |LEFT JOIN test.car AS c ON c.household_id = hh.household_id
          |LEFT JOIN test.household_member AS m ON m.household_id = hh.household_id
          |GROUP BY hh.household_id""".stripMargin)),
      CatalogObject("test", "v_household_roster", "View", Some(
        """CREATE VIEW test.v_household_roster AS
          |SELECT hh.household_id, m.role, p.species, c.model
          |FROM household AS hh
          |LEFT JOIN household_member AS m ON m.household_id = hh.household_id
          |LEFT JOIN pet AS p ON p.household_id = hh.household_id
          |LEFT JOIN car AS c ON c.household_id = hh.household_id""".stripMargin)),
      CatalogObject("test", "v_city_household_flag_stats", "View", Some(
        """CREATE VIEW test.v_city_household_flag_stats AS
          |WITH flags AS (SELECT * FROM test.v_household_flags)
          |SELECT household_id, has_pet, has_car FROM flags""".stripMargin)),
      CatalogObject("test", "v_household_health_score", "View", Some(
        """CREATE VIEW test.v_household_health_score AS
          |SELECT household_id,
          |       (if(has_pet, 1, 0) + if(has_car, 1, 0)) AS score
          |FROM test.v_household_flags""".stripMargin)),
      CatalogObject("test", "v_pet_ownership", "View", Some(
        """CREATE VIEW test.v_pet_ownership AS
          |SELECT hu.name, p.species
          |FROM test.pet AS p
          |JOIN test.human AS hu ON hu.human_id = p.pet_id""".stripMargin)),
      CatalogObject("test", "v_human_profile", "View", Some(
        """CREATE VIEW test.v_human_profile AS
          |SELECT hu.name, inv.model
          |FROM test.human AS hu
          |LEFT JOIN test.v_car_inventory AS inv ON inv.owner = hu.name""".stripMargin)),
      // unparseable DDL — exercises the per-view error channel (P1:
      // processing must continue, the failure lands in `errors`)
      CatalogObject("test", "v_broken", "View", Some(
        "CREATE VIEW test.v_broken AS SELECT 'oops")),
      // system objects — must be excluded by S1/S2 filters
      CatalogObject("system", "tables", "SystemTables", None),
      CatalogObject("INFORMATION_SCHEMA", "TABLES", "View", None))
    spark.createDataset(objs)
  }
}
