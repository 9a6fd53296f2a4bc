package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Session]] the one place a SparkSession is built: a second
  * builder in a new main or spec would split the engine settings again,
  * and in the shared test JVM its confs would be silently dropped. */
class SessionGuardSpec extends AnyFunSuite {

  private val self = Paths.get("src/test/scala/graft/SessionGuardSpec.scala")

  /** The `.scala` files under `roots`, this spec excluded, whose text
    * matches `call`. */
  private def callers(roots: Seq[Path], call: scala.util.matching.Regex): Seq[Path] = {
    assert(roots.forall(Files.isDirectory(_)),
      s"expected to run from the project root, not ${Paths.get("").toAbsolutePath}")
    def scalaFiles(root: Path): List[Path] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    roots.flatMap(scalaFiles).filter(p => p != self &&
      call.findFirstIn(Files.readString(p)).isDefined)
  }

  test("SparkSession.builder() is called only in graft/Session.scala") {
    val call = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    assert(callers(Seq(Paths.get("src/main"), Paths.get("src/test")), call) ==
      Seq(Paths.get("src/main/scala/graft/Session.scala")))
  }

  /** A spec's temp directory comes from `SparkSuite.tempDir`, which
    * deletes it when the spec ends. */
  test("in src/test, createTempDirectory is called only in SparkSuite") {
    assert(callers(Seq(Paths.get("src/test")), "createTempDirectory".r) ==
      Seq(Paths.get("src/test/scala/graft/SparkSuite.scala")))
  }
}
