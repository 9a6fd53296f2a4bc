package graft

import org.apache.spark.sql.SparkSession

/** Test base: each spec gets its own child of the one [[Session]], so the
  * temp views and runtime confs one spec sets never leak into another.
  * All specs share one forked JVM, where a second builder's confs would be
  * silently dropped by `getOrCreate`; a spec that needs a particular conf
  * overrides `spark` and sets it on its child session. */
trait SparkSuite {
  protected lazy val spark: SparkSession = Session.local().newSession()
}
