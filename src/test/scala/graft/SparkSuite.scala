package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Test base: each spec gets its own child of the one [[Session]], so the
  * temp views and runtime confs one spec sets never leak into another.
  * All specs share one forked JVM, where a second builder's confs would be
  * silently dropped by `getOrCreate`; a spec that needs a particular conf
  * overrides `spark` and sets it on its child session. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  protected lazy val spark: SparkSession = Session.local().newSession()

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new directory under `java.io.tmpdir`, deleted when the spec ends.
    * The one place a spec makes a temp directory (SessionGuardSpec). */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.asScala.foreach(d => FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()

  /** Runs `frames` and asserts they left no cached relation, no change
    * to a conf key outside `allowedConf`, no persistent RDD beyond
    * `allowedRdds` new ones behind, and removed none that existed. */
  protected def assertLeavesNoState(frames: => Seq[DataFrame],
      allowedRdds: Int = 0, allowedConf: Set[String] = Set.empty,
      clue: String = ""): Unit = {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val cacheEmptyBefore = cache.isEmpty
    val confBefore = spark.conf.getAll
    for (df <- frames) {
      df.collect()
      assert(df.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r }.isEmpty, clue)
    }
    val rddsAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert(rddsBefore.subsetOf(rddsAfter),
      s"$clue: removed persistent RDDs ${rddsBefore -- rddsAfter}")
    val newRdds = rddsAfter -- rddsBefore
    assert(newRdds.size <= allowedRdds, s"$clue: persistent RDDs $newRdds")
    assert(cache.isEmpty == cacheEmptyBefore, clue)
    assert(spark.conf.getAll -- allowedConf == confBefore -- allowedConf, clue)
  }
}
