package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.KubeEventOps
import graft.sources.KubeEventSource

/** Reference-fidelity checks over the real k8s Event JSON shape:
  * timestamp precedence (types.rs:38), key nulls (types.rs:21), label
  * nulls (tasks.rs:109), stdout record shape (types.rs:10).
  */
class KubeEventSpec extends SparkSpec {

  private val lines = Seq(
    // full event: lastTimestamp wins
    """{"metadata":{"name":"e1","namespace":"default","uid":"u1","resourceVersion":"101","creationTimestamp":"2024-01-01T00:00:00Z"},"involvedObject":{"kind":"Pod","namespace":"default","name":"p1"},"reason":"Started","type":"Normal","count":1,"firstTimestamp":"2024-01-01T00:01:00Z","lastTimestamp":"2024-01-01T00:02:00Z"}""",
    // no lastTimestamp: firstTimestamp wins
    """{"metadata":{"name":"e2","namespace":"default","uid":"u2","resourceVersion":"102","creationTimestamp":"2024-01-01T00:00:00Z"},"involvedObject":{"kind":"Pod","namespace":"default","name":"p2"},"reason":"Pulled","type":"Normal","firstTimestamp":"2024-01-01T00:01:30Z"}""",
    // neither: creationTimestamp wins; missing reason/kind → "-" labels
    """{"metadata":{"name":"e3","namespace":"kube-system","uid":"u3","resourceVersion":"103","creationTimestamp":"2024-01-01T00:00:10Z"},"involvedObject":{"namespace":"kube-system","name":"p3"},"type":"Warning"}""",
    // duplicate of e1 (same uid:resourceVersion) → deduped
    """{"metadata":{"name":"e1","namespace":"default","uid":"u1","resourceVersion":"101","creationTimestamp":"2024-01-01T00:00:00Z"},"involvedObject":{"kind":"Pod","namespace":"default","name":"p1"},"reason":"Started","type":"Normal","count":1,"firstTimestamp":"2024-01-01T00:01:00Z","lastTimestamp":"2024-01-01T00:02:00Z"}""",
    // no uid/resourceVersion → key ":" (empty-string semantics)
    """{"metadata":{"name":"e4","namespace":"default","creationTimestamp":"2024-01-01T00:00:20Z"},"involvedObject":{"kind":"Node","namespace":"default","name":"n1"},"reason":"Ready","type":"Normal"}""")

  private def parsedDf = {
    import spark.implicits._
    KubeEventSource.parsed(lines.toDF("value"))
  }

  test("timestamp precedence: lastTimestamp > firstTimestamp > creationTimestamp") {
    val times = KubeEventOps.withDerived(parsedDf)
      .select(col("kubernetes_event.metadata.name"), col("time"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).toInstant.toString).toMap
    assert(times("e1") == "2024-01-01T00:02:00Z")
    assert(times("e2") == "2024-01-01T00:01:30Z")
    assert(times("e3") == "2024-01-01T00:00:10Z")
  }

  test("cache key uses empty strings for missing uid/resourceVersion") {
    val keys = KubeEventOps.withDerived(parsedDf)
      .select(col("kubernetes_event.metadata.name"), col("key"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(keys("e1") == "u1:101")
    assert(keys("e4") == ":")
  }

  test("batch pipeline dedupes uid:resourceVersion and emits nested stdout records") {
    val out = KubeEventOps.pipeline(parsedDf).collect().map(_.getString(0))
    assert(out.length == 4, s"5 lines, 1 duplicate → 4: ${out.length}")
    val e1 = out.find(_.contains("\"uid\":\"u1\"")).get
    assert(e1.startsWith("""{"time":"""), e1)
    assert(e1.contains("\"kubernetes_event\":{"), e1)
  }

  test("label counts use '-' for missing labels and count cache misses only (tasks.rs:98-122)") {
    val rows = KubeEventOps.labelCounts(parsedDf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(rows.contains(("Warning", "-", "-", "kube-system", 1L)), rows.mkString("\n"))
    // e1 arrives twice with the same uid:resourceVersion — the reference
    // bumps events_count only on the first (cache-miss) occurrence
    assert(rows.contains(("Normal", "Started", "Pod", "default", 1L)), rows.mkString("\n"))
  }

  test("streaming pipeline over a watched JSON directory dedupes within the TTL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kube_events").toFile
    Files.writeString(new java.io.File(dir, "batch1.json").toPath, lines.mkString("\n"))
    val stream = KubeEventSource.streamJsonLines(spark, dir.getAbsolutePath)
    val out = KubeEventOps.streamPipeline(stream)
    val q = out.writeStream.outputMode("append").format("memory").queryName("kube_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("kube_out").collect().map(_.getString(0))
      assert(got.length == 4, s"duplicate suppressed: ${got.length}")
    } finally q.stop()
  }

  test("now() fallback (types.rs:38): timestampless event dropped+counted by default, emitted under the flag") {
    import spark.implicits._
    val noTs =
      """{"metadata":{"name":"e9","uid":"u9","resourceVersion":"901"},"involvedObject":{"kind":"Pod","namespace":"default","name":"p9"},"reason":"Odd","type":"Normal"}"""
    // batch surface: no fallback, the time is null
    val df = KubeEventSource.parsed(Seq(noTs).toDF("value"))
    assert(KubeEventOps.withDerived(df).select("time").head.isNullAt(0))

    // streaming surface: the reference EMITS such events (with a
    // warning); default graft drops them but counts the drop
    val listener = new graft.streaming.GraftMetricsListener
    spark.streams.addListener(listener)
    val dir = Files.createTempDirectory("kube_nots").toFile
    Files.writeString(new java.io.File(dir, "a.json").toPath,
      Seq(lines.head, noTs).mkString("\n"))
    def run(flag: Boolean, name: String): Long = {
      val q = KubeEventOps.streamPipeline(
          KubeEventSource.streamJsonLines(spark, dir.getAbsolutePath),
          processingTimeFallback = flag)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable(); spark.table(name).count() } finally q.stop()
    }
    try {
      assert(run(flag = false, "nots_off") == 1, "timestampless event must be dropped by default")
      val deadline = System.currentTimeMillis() + 10000
      while (listener.timeMissing.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.timeMissing.get() == 1, "the drop must be counted (the reference's warning)")
      assert(run(flag = true, "nots_on") == 2, "the flag must emit the event at processing time")
    } finally spark.streams.removeListener(listener)
  }
}
