package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session comes from [[Sessions]]: a session built anywhere else
  * would miss its policy (artifact isolation off, cached-plan
  * repartitioning, UTC, the codec) without any plan pin noticing. */
class SessionsGuardSpec extends AnyFunSuite {

  test("no source file but Sessions.scala builds a SparkSession") {
    val builds = """SparkSession\s*\.\s*builder\s*\(""".r
    val sources = Seq("src/main", "src/test").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"$root missing; run from the repository root")
      Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(sources.exists(_.getFileName.toString == "Sessions.scala"))
    val offenders = sources.filterNot(_.getFileName.toString == "Sessions.scala")
      .filter((p: Path) => builds.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).nonEmpty)
    assert(offenders.isEmpty,
      s"build sessions with graft.Sessions.builder, not SparkSession.builder: $offenders")
  }
}
