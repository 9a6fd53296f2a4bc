package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/check_oracles.py). Exits 1 when any query failed to produce its
  * parquet. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — run only matching
    // queries (local iteration; the driver always runs the full set)
    val nameFilter: String => Boolean = args.lift(2) match {
      case Some(p) => val ps = p.split(","); s => ps.exists(s.startsWith)
      case None => _ => true
    }
    val spark = Session.local()
    new File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter(kv => nameFilter(kv._1)).toSeq
    val failed = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        Some(name)
      }
    }
    new ObjectMapper().writeValue(new File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.asJava)
    spark.stop()
    println(s"[verify] failed ${failed.size} of ${selected.size}: ${failed.mkString(", ")}")
    if (failed.nonEmpty) sys.exit(1)
  }
}
