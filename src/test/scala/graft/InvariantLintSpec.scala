package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-scan checks for rules CLAUDE.md states as prose. Each rule
  * also runs on a deliberately bad in-memory source, so a scan that
  * silently stops matching fails here instead of passing vacuously. */
class InvariantLintSpec extends AnyFunSuite {
  import InvariantLintSpec._

  test("sessions are built only in LocalSession, Bench and Verify") {
    val builders = mainSources.collect {
      case (p, src) if buildsSession(src) => p.getFileName.toString
    }.toSet
    assert(builders === SessionBuilders,
      "build the session through graft.LocalSession.run instead")
  }

  test("the session-builder rule fires on a main with its own builder") {
    val bad = """object Probe { def main(a: Array[String]): Unit = {
                |  val spark = SparkSession
                |    .builder().master("local[2]").getOrCreate() } }""".stripMargin
    assert(buildsSession(bad))
    assert(!buildsSession(
      "object Ok { def main(a: Array[String]) = LocalSession.run(s => ()) }"))
  }
}

object InvariantLintSpec {
  /** The Bench/Verify harness contracts keep their own builders. */
  val SessionBuilders = Set("LocalSession.scala", "Bench.scala", "Verify.scala")

  private val SessionBuilder = """SparkSession\s*\.\s*builder\b""".r

  def buildsSession(src: String): Boolean =
    SessionBuilder.findFirstIn(src).isDefined

  /** Every Scala source under src/main, with its text. */
  def mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }
}
