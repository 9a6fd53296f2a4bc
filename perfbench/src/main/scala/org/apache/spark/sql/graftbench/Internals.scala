package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The Spark internals the benchmark reads: draining the listener bus (so
  * listener counts land in the span that caused them), counting the
  * CacheManager's cached relations (a leak check, read from outside) and a
  * SQL conf key's default. */
object Internals {
  private val defaults = new org.apache.spark.sql.internal.SQLConf

  def confDefault(key: String): Option[String] =
    scala.util.Try(defaults.getConfString(key)).toOption

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedRelations(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData"))
    f.map { fld =>
      fld.setAccessible(true)
      fld.get(cm) match {
        case s: scala.collection.Iterable[_] => s.size
        case _ => -1
      }
    }.getOrElse(-1)
  }
}
