package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Registry-hygiene tripwire (VERDICT r9 item 3): every
  * `SparkEntry.queries` key must be BOTH oracle-gated (or on the
  * documented rows-only allowlist) AND inventoried in SURVEY.md §2.
  * The r9 `doc_snapshot_churn` incident landed a registry entry with
  * no oracle row, no SURVEY row, and no both-SF gate — this spec
  * makes that an immediate test failure instead of a judge finding.
  *
  * Pure metadata checks — no SparkSession needed.
  */
class RegistryHygieneSpec extends AnyFunSuite {

  private lazy val queryKeys  = SparkEntry.queries.keySet
  private lazy val oracleKeys = SparkEntry.oracleSql.keySet

  test("every queries key has an oracle or a documented rows-only annotation") {
    val undocumented = queryKeys -- oracleKeys -- SparkEntry.rowsOnlyKeys
    assert(undocumented.isEmpty,
      s"registry keys with neither oracleSql nor rowsOnlyKeys entry: ${undocumented.toSeq.sorted.mkString(", ")}")
  }

  test("rows-only allowlist is exact (no stale entries, no oracle'd entries)") {
    val stale = SparkEntry.rowsOnlyKeys -- queryKeys
    assert(stale.isEmpty, s"rowsOnlyKeys not in queries: ${stale.mkString(", ")}")
    val both = SparkEntry.rowsOnlyKeys.intersect(oracleKeys)
    assert(both.isEmpty,
      s"rowsOnlyKeys that now HAVE an oracle (remove from allowlist): ${both.mkString(", ")}")
  }

  test("no orphan oracles (every oracleSql key is a registered query)") {
    val orphans = oracleKeys -- queryKeys
    assert(orphans.isEmpty, s"oracleSql keys with no queries entry: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("every queries key appears in SURVEY.md §2") {
    // sbt runs tests with CWD = project root, where SURVEY.md lives.
    val surveyPath = Paths.get("SURVEY.md")
    assume(Files.exists(surveyPath), "SURVEY.md not found from test CWD")
    val survey = new String(Files.readAllBytes(surveyPath), StandardCharsets.UTF_8)
    // §2 rows reference keys as `key` inline code; restrict to the §2
    // region (start of the first family table to the next ## header)
    // so a mention in prose elsewhere can't mask a missing row.
    val start = survey.indexOf("### A.")
    assert(start >= 0, "SURVEY.md §2 family tables not found")
    val afterStart = survey.substring(start)
    val end = afterStart.indexOf("\n## ")
    val section2 = if (end >= 0) afterStart.substring(0, end) else afterStart
    val ticked = "`([A-Za-z0-9_.]+)`".r
      .findAllMatchIn(section2).map(_.group(1)).toSet
    val missing = queryKeys -- ticked
    assert(missing.isEmpty,
      s"queries keys with no SURVEY §2 row: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("sessions are built only in GraftSession; only the product mains define main") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main")
    assume(Files.exists(root), "src/main not found from test CWD")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def filesMatching(re: String): Set[String] = sources.filter { f =>
      re.r.findFirstIn(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).nonEmpty
    }.map(_.getFileName.toString).toSet
    assert(filesMatching("SparkSession\\s*\\.builder") == Set("GraftSession.scala"))
    assert(filesMatching("def main\\s*\\(") ==
      Set("KesMain.scala", "CurateMain.scala", "Bench.scala", "Verify.scala", "Probe.scala"))
  }
}
