package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

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

  private val mainRoot = Paths.get("src/main")

  /** (path, text) of every Scala file under src/main. */
  private lazy val mainSources: Seq[(Path, String)] = {
    import scala.jdk.CollectionConverters._
    Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f -> new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
  }

  test("sessions are built only in GraftSession; only the product mains define main") {
    assume(Files.exists(mainRoot), "src/main not found from test CWD")
    def filesMatching(re: String): Set[String] = mainSources.collect {
      case (f, text) if re.r.findFirstIn(text).nonEmpty => f.getFileName.toString
    }.toSet
    assert(filesMatching("SparkSession\\s*\\.builder") == Set("GraftSession.scala"))
    assert(filesMatching("def main\\s*\\(") ==
      Set("KesMain.scala", "CurateMain.scala", "Bench.scala", "Verify.scala", "Probe.scala"))
  }

  test("no hidden memo caches: no graft-cache dir in src/main, no map memo in operators or sources") {
    assume(Files.exists(mainRoot), "src/main not found from test CWD")
    assert(mainSources.collect { case (f, text) if text.contains("graft-cache") => f }.isEmpty)
    val memoDirs = Seq("operators", "sources").map(d => mainRoot.resolve(s"scala/graft/$d"))
    val memo = mainSources.collect { case (f, text) if memoDirs.exists(f.startsWith(_)) &&
        "ConcurrentHashMap|computeIfAbsent".r.findFirstIn(text).nonEmpty => f }
    assert(memo.isEmpty, s"memo maps in operators/sources: ${memo.mkString(", ")}")
  }

  test("no Java-serialised aggregation buffer in src/main") {
    assume(Files.exists(mainRoot), "src/main not found from test CWD")
    val javaSer = mainSources.collect { case (f, text) if text.contains("javaSerialization") => f }
    assert(javaSer.isEmpty, s"Encoders.javaSerialization in: ${javaSer.mkString(", ")}")
  }

  test("graft installs itself only through GraftSession: no registration, strategy or optimizer write elsewhere") {
    assume(Files.exists(mainRoot), "src/main not found from test CWD")
    val installs = mainSources.collect {
      case (f, text) if "ensureRegistered|registerFunction|extraStrategies".r.findFirstIn(text).nonEmpty => f
    }
    assert(installs.isEmpty, s"session installs outside GraftExtensions: ${installs.mkString(", ")}")
    val optimizerKeys = mainSources.collect {
      case (f, text) if Seq("spark.sql.constraintPropagation.enabled",
          "spark.sql.optimizer.excludedRules").exists(text.contains) => f.getFileName.toString
    }.toSet
    assert(optimizerKeys == Set("GraftSession.scala"), optimizerKeys.toString)
  }

  test("one IVF-ADC scorer: row-form ADC join keys appear only in D9's annPqAdcWith") {
    assume(Files.exists(mainRoot), "src/main not found from test CWD")
    // the def each `qsub_j` / `qcode` occurrence sits in
    val defName = "def\\s+(\\w+)".r
    val owners = mainSources.flatMap { case (f, text) =>
      "qsub_j|qcode".r.findAllMatchIn(text).map { m =>
        val owner = defName.findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption
          .map(_.group(1)).getOrElse("")
        s"${f.getFileName}:$owner"
      }
    }.toSet
    assert(owners.subsetOf(Set("Similarity.scala:annPqAdcWith")),
      s"row-form ADC join keys outside D9: ${owners.mkString(", ")}")
  }

  test("row order belongs to the registry: no operator takes an ordered flag or calls maybeSort") {
    assume(Files.exists(mainRoot), "src/main not found from test CWD")
    val sorting = mainSources.collect {
      case (f, text) if "ordered\\s*:\\s*Boolean|maybeSort".r.findFirstIn(text).nonEmpty => f
    }
    assert(sorting.isEmpty, s"operator-side sort flag in: ${sorting.mkString(", ")}")
  }
}
