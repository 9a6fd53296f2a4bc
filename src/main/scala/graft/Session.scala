package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every entry point (Bench, Verify, Sql,
  * Main, PlanAudit, ProfileQuery), the test-side mains and the test base
  * build their session here, so the oracle gate, the bench and the tests
  * run one engine configuration:
  *
  *  - master `SPARK_GRAFT_MASTER` when set, else `local[cpus]`;
  *  - cpus = `SPARK_GRAFT_CPUS`, else the host's core count; shuffle
  *    partitions = cpus (scale-adaptive operators shape plans by it);
  *  - UTC session time zone, UI off, parquet `TIMESTAMP(NANOS)` read as
  *    long, log level WARN.
  *
  * `getOrCreate` hands back the JVM's existing session unchanged, so a
  * caller that needs another conf sets it on a `newSession()` rather than
  * on a second builder.
  */
object Session {

  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
