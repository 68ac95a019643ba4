package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds what a main or a query runs: a `def` whose name
  * appears nowhere else in `src/main` has no product caller, so it is
  * either deleted, moved to `src/test`, or listed below with a reason.
  * The check is a grep over names, so it is a floor: a def whose name
  * also appears in another def, a comment or a string passes. Overrides
  * are called by Spark or the JVM and are skipped. */
class MainReachabilitySpec extends AnyFunSuite {

  private val allowed: Map[String, String] = Map(
    "main" -> "JVM entry point of each runnable object",
    "extractValueColumns" -> "Analyzer reader surface: the reference reader's functions",
    "typedView" -> "Analyzer reader surface: the reference reader's functions",
    "schemaDrift" -> "Analyzer reader surface: the reference reader's functions",
    "describeStats" -> "Analyzer reader surface: the reference reader's functions",
    "profile" -> "Analyzer reader surface: the reference reader's functions",
    "cachedKeys" -> "IdBloom test seam: KeeperGuardSpec reads the broadcast cache's keys",
    "clearBcCache" -> "IdBloom test seam: KeeperGuardSpec empties the broadcast cache",
    "registerAll" -> "Tables: every table as a temp view, the SQL surface SqlSurfaceSpec queries")

  test("every def in src/main has a caller in src/main or a listed reason") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"$root missing; run from the repository root")
    val text = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString("\n")
    val decl = """(?m)^[^\n]*?\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val found = decl.findAllMatchIn(text).toSeq
    val declared = found.map(_.group(1)).groupBy(identity).view.mapValues(_.size).toMap
    val candidates = found.filterNot(m => """\boverride\b""".r.findFirstIn(m.matched).nonEmpty)
      .map(_.group(1)).distinct
    val uncalled = candidates.filter { n =>
      s"\\b${java.util.regex.Pattern.quote(n)}\\b".r.findAllMatchIn(text).size <= declared(n)
    }
    val unlisted = uncalled.filterNot(allowed.contains).sorted
    assert(unlisted.isEmpty,
      s"defs in src/main that nothing in src/main names: ${unlisted.mkString(", ")}; " +
        "delete them, move them to src/test, or list them here with a reason")
    val stale = allowed.keySet.filterNot(declared.contains)
    assert(stale.isEmpty, s"listed but no longer declared in src/main: ${stale.mkString(", ")}")
  }
}
