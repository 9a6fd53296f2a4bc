package graft.chsql

import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType

/** The `system.*` introspection tables (CH's system database; the
  * reference reads `system.tables` for its whole pipeline —
  * ch_view_dependencies.py catalog query). Resolved INSIDE the FROM
  * translator as a fallback: a caller-provided resolver (temp views,
  * catalog snapshots) that knows the name wins, so the CatalogSource
  * snapshot fixtures keep shadowing these live views.
  *
  * All providers are driver-side catalog walks — metadata-scale by
  * construction (same contract as SHOW TABLES / DESCRIBE), never a data
  * scan. `system.parts` reads file sizes from the filesystem listing,
  * not file contents.
  */
object SystemTables {

  /** The live frame for a `system.<name>` reference, if it is one. */
  def resolve(spark: SparkSession, name: String): Option[DataFrame] = {
    import spark.implicits._
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "system.databases" =>
        Some(spark.catalog.listDatabases().toDF().select("name"))

      case "system.tables" =>
        Some(allTables(spark).map { case (db, t, qualified) =>
          val meta = TableMeta.lookup(spark, TableIdentifier(t, Some(db)))
          val engine = meta.flatMap(TableMeta.props(_).get("graft.engine"))
            .getOrElse(if (meta.exists(_.tableType == CatalogTableType.VIEW))
              "View" else "MergeTree")
          val ddl = Try(ChDdl.showCreate(spark, qualified,
            spark.table(_))).getOrElse(null)
          (db, t, engine, ddl)
        }.toDF("database", "name", "engine", "create_table_query"))

      case "system.columns" =>
        Some(allTables(spark).flatMap { case (db, t, qualified) =>
          Try(spark.table(qualified).schema).toOption.toSeq.flatMap(schema =>
            schema.fields.zipWithIndex.map { case (f, i) =>
              // types without a CH name (e.g. TimestampNTZ from foreign
              // tables) report their Spark name rather than failing the
              // whole catalog walk
              val ty = Try(graft.model.ChTypes.toCh(f.dataType, f.nullable))
                .getOrElse(f.dataType.simpleString)
              (db, t, f.name, ty, i + 1)
            })
        }.toDF("database", "table", "name", "type", "position"))

      case "system.parts" =>
        // one row per (partition directory | unpartitioned root) of each
        // file-backed table: CH's parts inventory at this engine's
        // granularity. Sizes come from the file listing.
        val conf = spark.sparkContext.hadoopConfiguration
        Some(allTables(spark).flatMap { case (db, t, qualified) =>
          val files = Try(spark.table(qualified).inputFiles).getOrElse(Array.empty)
          files.groupBy { f =>
            val segs = f.split("/").dropRight(1)
            segs.reverse.takeWhile(_.contains("=")).reverse.mkString("/")
          }.toSeq.sortBy(_._1).map { case (part, fs) =>
            val bytes = fs.map { f =>
              val p = new org.apache.hadoop.fs.Path(f)
              Try(p.getFileSystem(conf).getFileStatus(p).getLen).getOrElse(0L)
            }.sum
            (db, t, if (part.isEmpty) "tuple()" else part,
              fs.length.toLong, bytes, true)
          }
        // CH has both `partition` and `partition_id`; only the latter is
        // exposed here — `partition` is a reserved word in the parser
        }.toDF("database", "table", "partition_id", "file_count",
          "bytes_on_disk", "active"))

      case "system.data_skipping_indices" =>
        // one row per registered skip index (CH's table of the same
        // name): the minmax/set family registers under graft.index.*
        // (the stored property does not distinguish the two — both map
        // onto clustered parquet stats), the bloom family under its
        // three sidecar-backed kinds
        Some(allTables(spark).flatMap { case (db, t, qualified) =>
          val props = TableMeta.lookup(spark, TableIdentifier(t, Some(db)))
            .fold(Map.empty[String, String])(TableMeta.props)
          def rows(prefix: String, kind: String) = TableMeta.prefixed(props, prefix)
            .map { case (idx, c) => (db, t, idx, kind, c) }
          rows("graft.index.", "minmax_or_set") ++
            rows("graft.bloomindex.", "bloom_filter") ++
            rows("graft.tokbloomindex.", "tokenbf_v1") ++
            rows("graft.ngrambloomindex.", "ngrambf_v1")
        }.sortBy(r => (r._1, r._2, r._3))
          .toDF("database", "table", "name", "type", "expr"))

      case "system.functions" =>
        Some(FunctionCatalog.names
          .map(n => (n, FunctionCatalog.isAggregate(n)))
          .toDF("name", "is_aggregate"))

      case "system.settings" =>
        Some(graft.plans.Settings.settingsRows(spark)
          .toDF("name", "value", "changed", "spark_key"))

      case _ => None
    }
  }

  /** (database, table, qualified-name) across every catalog database,
    * the system/information-schema databases excluded. */
  private def allTables(spark: SparkSession): Seq[(String, String, String)] =
    spark.catalog.listDatabases().collect().map(_.name)
      .filterNot(db => db.equalsIgnoreCase("system") ||
        db.equalsIgnoreCase("information_schema"))
      .flatMap { db =>
        Try(spark.catalog.listTables(db).collect()).getOrElse(Array.empty)
          .filter(t => t.database != null) // skip session temp views
          .map(t => (db, t.name, s"$db.${t.name}"))
      }.toSeq
}
