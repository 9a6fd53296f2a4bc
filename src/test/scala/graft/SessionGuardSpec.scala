package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Session]] the one place a SparkSession is built: a second
  * builder in a new main or spec would split the engine settings again,
  * and in the shared test JVM its confs would be silently dropped. */
class SessionGuardSpec extends AnyFunSuite {

  test("SparkSession.builder() is called only in graft/Session.scala") {
    val roots = Seq(Paths.get("src/main"), Paths.get("src/test"))
    assert(roots.forall(Files.isDirectory(_)),
      s"expected to run from the project root, not ${Paths.get("").toAbsolutePath}")
    val call = """SparkSession\s*\.\s*builder\s*\(\s*\)""".r
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    val self = Paths.get("src/test/scala/graft/SessionGuardSpec.scala")
    def scalaFiles(root: Path): List[Path] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val callers = roots.flatMap(scalaFiles).filter(p => p != self &&
      call.findFirstIn(Files.readString(p)).isDefined)
    assert(callers == Seq(factory))
  }
}
