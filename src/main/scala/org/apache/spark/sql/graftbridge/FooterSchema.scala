package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(path)` infers, read on the driver from
  * the footer of the path's first data file (the one Spark reads without
  * schema merging) — Spark's inference starts a job. Here for the
  * private[spark] `asNullable`: file sources report every field nullable. */
object FooterSchema {
  def read(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val file = p.getFileSystem(conf).listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .minBy(_.getPath.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }
}
