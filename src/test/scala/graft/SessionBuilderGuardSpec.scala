package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[GraftSession.create]] the only session builder, so the
  * engine's conf cannot drift between entry points again.
  */
class SessionBuilderGuardSpec extends AnyFunSuite {

  test("no source file but GraftSession.scala builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java")).toSeq
    assert(files.exists(_.endsWith(Paths.get("graft", "GraftSession.scala"))),
      "run from the repository root")
    val offenders = files.filter { p: Path =>
      p.getFileName.toString != "GraftSession.scala" &&
        builder.findFirstIn(Files.readString(p)).isDefined
    }
    assert(offenders.isEmpty, s"build sessions through GraftSession.create: ${offenders.mkString(", ")}")
  }
}
