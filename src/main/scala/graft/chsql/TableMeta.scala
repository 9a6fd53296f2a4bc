package graft.chsql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable

/** graft's table metadata on the session catalog (`sessionState.catalog`):
  * the `graft.*` properties CREATE and ALTER record (engine, sorting key,
  * column modifiers, indexes), the partition columns and the table type.
  * A read is a catalog lookup and a write one `alterTable`: no statement
  * is planned and nothing is quoted into SQL. Only "not a catalog table"
  * (a temp view or an unknown name) reads as absent; any other failure
  * propagates. */
private[chsql] object TableMeta {

  /** The catalog table `name` names, or None when it is not one. */
  def lookup(spark: SparkSession, name: String): Option[CatalogTable] =
    lookup(spark, spark.sessionState.sqlParser.parseTableIdentifier(name))

  def lookup(spark: SparkSession, id: TableIdentifier): Option[CatalogTable] = {
    val catalog = spark.sessionState.catalog
    if (catalog.isTempView(id) || !catalog.tableExists(id)) None
    else Some(catalog.getTableMetadata(id))
  }

  /** The `graft.*` properties of `table`. */
  def props(table: CatalogTable): Map[String, String] =
    table.properties.filter(_._1.startsWith("graft."))

  /** The `graft.*` properties of `name`; empty if not a catalog table. */
  def props(spark: SparkSession, name: String): Map[String, String] =
    lookup(spark, name).fold(Map.empty[String, String])(props)

  /** `name`'s partition columns in layout order; empty if not a catalog table. */
  def partitionCols(spark: SparkSession, name: String): Seq[String] =
    lookup(spark, name).fold(Seq.empty[String])(_.partitionColumnNames)

  /** The comma-separated list property `key`, in order. */
  def list(props: Map[String, String], key: String): Seq[String] =
    props.get(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The properties under `prefix`, keyed by the rest of their key. */
  def prefixed(props: Map[String, String], prefix: String): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v }

  /** `names` in DECLARED order (`graft.columns`: the catalog puts partition
    * columns last), then the columns the list does not name. */
  def declaredOrder(props: Map[String, String], names: Seq[String]): Seq[String] = {
    val declared = list(props, "graft.columns")
    declared.filter(names.contains) ++ names.filterNot(declared.contains)
  }

  /** Remove `unset` (absent keys ignored) and add or overwrite `set` in one
    * catalog write, as Spark's AlterTableUnsetPropertiesCommand (IF
    * EXISTS) and AlterTableSetPropertiesCommand do: `alterTable`, then
    * `invalidateCachedTable`. */
  def update(spark: SparkSession, name: String,
      set: Iterable[(String, String)] = Nil, unset: Iterable[String] = Nil): Unit =
    if (set.nonEmpty || unset.nonEmpty) {
      val catalog = spark.sessionState.catalog
      val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
      val table = catalog.getTableRawMetadata(id)
      catalog.alterTable(table.copy(properties = table.properties -- unset ++ set))
      catalog.invalidateCachedTable(id)
    }
}
