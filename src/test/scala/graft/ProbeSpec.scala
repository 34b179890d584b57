package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import graft.operators.Analytics

/** `graft.Probe` on the shared session: each mode's output for one
  * registry query, and the session still runs queries afterwards
  * (`Probe.run` never stops the session it is given).
  */
class ProbeSpec extends SparkSpec {

  private val q = "q1_pricing_summary"
  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  test("time prints each iteration and a min/median line") {
    val lines = ArrayBuffer[String]()
    Probe.run(spark, Seq("time", sfDir, q, "2"), lines += _)
    val all = lines.mkString("\n")
    for (i <- 1 to 2) {
      val iter = s"PROBE $q iter=$i [0-9.]+ s gc=[0-9.]+ s jit=[0-9.]+ s jobs=(\\d+) stages=(\\d+)".r
      val counts = lines.collectFirst { case iter(j, st) => (j.toInt, st.toInt) }
      assert(counts.exists { case (j, st) => j >= 1 && st >= j }, all)
    }
    assert(lines.exists(_.matches(s"PROBE $q iters=[0-9.]+,[0-9.]+ min=[0-9.]+ median=[0-9.]+")), all)
    assert(lines.exists(_.trim.startsWith("stage ")), all)
  }

  test("plan and exec write <outDir>/<key>_<suffix>.txt; the session stays usable") {
    val out = Files.createTempDirectory("probe-spec").toString
    val lines = ArrayBuffer[String]()
    Probe.run(spark, Seq("plan", sfDir, q, out), lines += _)
    assert(read(s"$out/${q}_plan.txt").contains("== Physical Plan =="))
    Probe.run(spark, Seq("exec", sfDir, q, out), lines += _)
    val exec = read(s"$out/${q}_exec.txt")
    val executions = "(?m)^executions: (\\d+)$".r.findFirstMatchIn(exec).map(_.group(1).toInt)
    assert(exec.startsWith(s"query: $q\n"), exec.take(300))
    assert(executions.exists(_ >= 1), exec.take(300))
    assert("(?m)^exchanges: \\d+$".r.findFirstIn(exec).nonEmpty, exec.take(300))
    assert(exec.contains(s"=== execution 1 of ${executions.get} ==="), exec.take(300))
    Probe.run(spark, Seq("exec", sfDir, q, out, "again"), lines += _)
    assert(Files.exists(Paths.get(s"$out/${q}_again.txt")))
    assert(lines.count(_.startsWith("PROBE ")) == 3, lines.mkString("\n"))
    assert(spark.range(10).count() == 10)
    assert(Analytics.q1PricingSummary(tables).count() > 0)
  }

  test("an unknown mode is refused with the usage line") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, Seq("stages", sfDir, q), _ => ()))
    assert(e.getMessage.contains("time|plan|exec"), e.getMessage)
  }
}
