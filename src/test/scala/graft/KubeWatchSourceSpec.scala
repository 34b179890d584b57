package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.HttpServer

import graft.operators.KubeEventOps

/** A fake Kubernetes API server speaking just enough of the Events API
  * for the list-then-watch source: GET list → EventList with a
  * resourceVersion bookmark; GET ?watch=true&resourceVersion=N →
  * NDJSON `{"type":"ADDED","object":…}` for every event newer than N,
  * then connection close (the client must re-watch with backoff —
  * that IS the loop under test).
  */
class FakeKubeApi {
  private val events = ArrayBuffer[(Int, String)]() // (rv, event json)
  private val lock = new Object
  // one-shot: the next watch request gets the in-stream expiry the
  // real API server sends (HTTP 200 + ERROR Status, code 410)
  @volatile var failNextWatchWith410 = false
  // when set, every request lacking `Authorization: Bearer <this>` is
  // rejected 401 — the posture of any real API server
  @volatile var requireBearer: String = null

  def add(uid: String, rv: Int, reason: String = "Started"): Unit = lock.synchronized {
    val json =
      s"""{"metadata":{"name":"ev-$uid-$rv","namespace":"default","uid":"$uid","resourceVersion":"$rv","creationTimestamp":"2024-01-01T00:00:0${rv % 10}Z"},"involvedObject":{"kind":"Pod","namespace":"default","name":"p-$uid"},"reason":"$reason","message":"m","type":"Normal","count":1}"""
    events += ((rv, json))
  }

  private val server = HttpServer.create(new InetSocketAddress(0), 0)
  server.createContext("/api/v1/events", exchange => {
    if (requireBearer != null &&
        exchange.getRequestHeaders.getFirst("Authorization") != s"Bearer $requireBearer") {
      exchange.sendResponseHeaders(401, -1)
      exchange.close()
    } else serve(exchange)
  })

  private def serve(exchange: com.sun.net.httpserver.HttpExchange): Unit = {
    val query = Option(exchange.getRequestURI.getQuery).getOrElse("")
    val params = query.split("&").filter(_.nonEmpty)
      .map(_.split("=", 2)).map(a => a(0) -> a.lift(1).getOrElse("")).toMap
    val body =
      if (params.get("watch").contains("true")) {
        if (failNextWatchWith410) {
          failNextWatchWith410 = false
          """{"type":"ERROR","object":{"kind":"Status","apiVersion":"v1","status":"Failure","reason":"Expired","code":410}}""" + "\n"
        } else {
          val since = params.get("resourceVersion").map(_.toInt).getOrElse(0)
          lock.synchronized {
            events.filter(_._1 > since)
              .map { case (_, j) => s"""{"type":"ADDED","object":$j}""" }
              .mkString("", "\n", "\n")
          }
        }
      } else lock.synchronized {
        val maxRv = if (events.isEmpty) 0 else events.map(_._1).max
        s"""{"kind":"EventList","metadata":{"resourceVersion":"$maxRv"},"items":[${events.map(_._2).mkString(",")}]}"""
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.sendResponseHeaders(200, bytes.length)
    val os = exchange.getResponseBody
    try os.write(bytes) finally os.close()
  }
  server.start()
  val port: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

/** Drives the real DataSourceV2 list-then-watch source (KubeWatchSource)
  * against a fake API server: initial list, watch-delivered new events
  * via re-watch from the resourceVersion bookmark, and dedup-state
  * recovery across a full process-style restart through KesMain.
  */
class KubeWatchSourceSpec extends SparkSpec {

  test("list then watch: initial list arrives, later events arrive via re-watch from the bookmark") {
    val api = new FakeKubeApi
    try {
      api.add("u1", 1)
      api.add("u2", 2)
      val df = KesMain.input(spark, s"k8s://localhost:${api.port}")
      val q = KubeEventOps.streamPipeline(df, cacheTtl = "1 hour")
        .writeStream.format("memory").queryName("kw_live").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.table("kw_live").count() == 2, "both listed events emitted")

        api.add("u3", 3) // arrives via the NEXT watch reconnect (backoff loop)
        val deadline = System.currentTimeMillis() + 30000
        var n = 0L
        while (n < 3 && System.currentTimeMillis() < deadline) {
          Thread.sleep(250)
          q.processAllAvailable()
          n = spark.table("kw_live").count()
        }
        assert(n == 3, s"watch-delivered event must appear, got $n")
        val lines = spark.table("kw_live").collect().map(_.getString(0))
        assert(lines.forall(_.startsWith("""{"time":""")), lines.head)
        assert(lines.exists(_.contains("\"uid\":\"u3\"")))

        // ReportsSourceMetrics surface: buffer gauges ride the progress
        val m = q.lastProgress.sources.head.metrics
        assert(m.containsKey("bufferedEvents") && m.containsKey("backpressureStalls"),
          s"source metrics missing: $m")
        assert(m.get("backpressureStalls").toLong == 0L, "no stall expected at this volume")
      } finally q.stop()
    } finally api.stop()
  }

  test("full buffer parks ingest and counts a backpressure stall; release un-parks it") {
    val api = new FakeKubeApi
    try {
      api.add("u1", 1)
      api.add("u2", 2)
      // capacity-1 channel: the initial list's 2nd append must park
      val client = new graft.sources.KubeWatchClient(
        s"http://localhost:${api.port}", None, 10, 100, maxBuffer = 1)
      try {
        val lister = new Thread(() => client.seenCount) // triggers list; ingest parks on event 2
        lister.start()
        val deadline = System.currentTimeMillis() + 10000
        while (client.backpressureStalls == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(client.backpressureStalls >= 1, "append must record the stall")
        assert(client.bufferedEvents == 1, "buffer holds exactly its capacity")
        lister.join(10000)
        assert(!lister.isAlive, "a full buffer releases the first source call")
        client.release(1) // consumer commits the first event → slot frees
        // the un-parked ingest appends event 2 on its own thread
        val landBy = System.currentTimeMillis() + 10000
        while (client.seenCount < 2 && System.currentTimeMillis() < landBy) Thread.sleep(20)
        assert(client.seenCount == 2 && client.bufferedEvents == 1,
          "release must un-park the parked ingest: second event lands after release")
      } finally client.close()
    } finally api.stop()
  }

  test("initial list larger than maxBuffer drains without deadlock (consumer paces the producer)") {
    val api = new FakeKubeApi
    try {
      (1 to 6).foreach(i => api.add(s"u$i", i))
      // before the ingest-thread fix, the first seenCount ran the list
      // on the caller thread and parked forever on event 3 (release()
      // could only come from that same blocked thread)
      // a full buffer releases the initial-list latch: before that, each
      // source call waited listWaitMs until the whole list was buffered
      val listWaitMs = 5000L
      val client = new graft.sources.KubeWatchClient(
        s"http://localhost:${api.port}", None, 10, 100, maxBuffer = 2, listWaitMs = listWaitMs)
      try {
        var delivered = Vector[String]()
        var committed = 0L
        val t0 = System.currentTimeMillis()
        val deadline = t0 + 15000
        while (delivered.size < 6 && System.currentTimeMillis() < deadline) {
          val n = client.seenCount
          if (n > committed) {
            delivered ++= client.slice(committed, n)
            client.release(n)
            committed = n
          } else Thread.sleep(20)
        }
        (1 to 6).foreach { i =>
          assert(delivered.exists(_.contains(s"\"uid\":\"u$i\"")),
            s"event u$i missing from ${delivered.size} delivered")
        }
        val elapsed = System.currentTimeMillis() - t0
        assert(elapsed < listWaitMs, s"6 events took $elapsed ms to drain (listWaitMs = $listWaitMs)")
      } finally client.close()
    } finally api.stop()
  }

  test("in-stream watch ERROR (410 Status) re-lists instead of appending the Status as an event") {
    val api = new FakeKubeApi
    try {
      api.add("u1", 1); api.add("u2", 2)
      val client = new graft.sources.KubeWatchClient(
        s"http://localhost:${api.port}", None, 10, 50, maxBuffer = 1024, listWaitMs = 5000)
      try {
        assert(client.seenCount == 2)
        api.failNextWatchWith410 = true
        api.add("u3", 3)
        // the ERROR drops the bookmark; the next loop iteration
        // re-lists, replaying all 3 events (at-least-once) incl. u3
        val deadline = System.currentTimeMillis() + 15000
        def all(): Array[String] = client.slice(0, client.seenCount)
        while (!all().exists(_.contains("\"uid\":\"u3\"")) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
        val lines = all()
        assert(lines.exists(_.contains("\"uid\":\"u3\"")), "new event must arrive after re-list")
        assert(!lines.exists(_.contains("\"kind\":\"Status\"")),
          "the ERROR Status object must never be appended as an event")
      } finally client.close()
    } finally api.stop()
  }

  test("uncommitted-batch replay (planInputPartitions without latestOffset) aligns the base") {
    val api = new FakeKubeApi
    try {
      (1 to 5).foreach(i => api.add(s"u$i", i))
      val props = new java.util.HashMap[String, String]()
      val opts = new java.util.HashMap[String, String]()
      opts.put("endpoint", s"http://localhost:${api.port}")
      val stream = new graft.sources.KubeWatchSource()
        .getTable(graft.sources.KubeWatchSource.schema, Array.empty, props)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
        .build().toMicroBatchStream("unused")
      // crash-replay path: the engine re-executes batch [2,4) straight
      // from the offsets WAL — no latestOffset call first
      val parts = stream.planInputPartitions(
        stream.deserializeOffset("2"), stream.deserializeOffset("4"))
      val reader = stream.createReaderFactory().createReader(parts(0))
      var replayed = Vector[String]()
      while (reader.next()) replayed :+= reader.get().getUTF8String(0).toString
      // aligned base ⇒ the batch re-delivers the FIRST two re-listed
      // events (u1, u2) at logical offsets 2..4 — not rows 2..4 of the
      // fresh list, which would skip u1/u2 forever
      assert(replayed.size == 2, s"replay of [2,4) must carry 2 rows: $replayed")
      assert(replayed(0).contains("\"uid\":\"u1\"") && replayed(1).contains("\"uid\":\"u2\""))
      stream.commit(stream.deserializeOffset("4"))
      // nothing was lost: the remaining re-listed events are still due
      val latest = stream.asInstanceOf[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]
        .latestOffset(stream.deserializeOffset("4"),
          org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      assert(latest.json.toLong == 7L, s"5 listed events from base 2 end at 7, got ${latest.json}")
      val parts2 = stream.planInputPartitions(stream.deserializeOffset("4"), latest)
      val r2 = stream.createReaderFactory().createReader(parts2(0))
      var rest = Vector[String]()
      while (r2.next()) rest :+= r2.get().getUTF8String(0).toString
      assert(rest.map(l => (3 to 5).find(i => l.contains(s"\"uid\":\"u$i\""))).flatten == Vector(3, 4, 5))
      stream.stop()
    } finally api.stop()
  }

  test("KesMain k8s:// restart: committed offset + checkpointed dedup state suppress the re-listed replay") {
    val api = new FakeKubeApi
    try {
      api.add("u1", 1)
      val out = Files.createTempDirectory("kw_out").toFile.getAbsolutePath + "/data"
      val ckpt = Files.createTempDirectory("kw_ckpt").toFile.getAbsolutePath
      val env = Map("CACHE_DB" -> ckpt, "CACHE_TTL" -> "3600")

      KesMain.run(Array(s"k8s://localhost:${api.port}", out, "--once"), env)
      // second process lifetime: the API re-lists u1 (still present) + a new event
      api.add("u2", 2)
      KesMain.run(Array(s"k8s://localhost:${api.port}", out, "--once"), env)

      val got = spark.read.text(out).collect().map(_.getString(0))
      assert(got.length == 2,
        s"re-listed u1 must be deduped by recovered state: ${got.toSeq}")
      assert(got.exists(_.contains("\"uid\":\"u1\"")) && got.exists(_.contains("\"uid\":\"u2\"")))
    } finally api.stop()
  }

  test("bearer auth: 401 without the token; tokenFile authenticates, and a restarted client re-lists with it") {
    val api = new FakeKubeApi
    try {
      api.requireBearer = "sekret"
      api.add("u1", 1); api.add("u2", 2)
      // no token → every request 401s → nothing ever buffers
      val anon = new graft.sources.KubeWatchClient(
        s"http://localhost:${api.port}", None, 10, 50, 1024, listWaitMs = 1500)
      try assert(anon.seenCount == 0, "unauthenticated client must get nothing")
      finally anon.close()

      val tokenFile = Files.createTempFile("kw_tok", "")
      Files.writeString(tokenFile, "sekret\n") // trailing newline: the real mount has one
      def authed() = new graft.sources.KubeWatchClient(
        s"http://localhost:${api.port}", None, 10, 50, 1024, listWaitMs = 5000,
        tokenFile = Some(tokenFile.toString))
      val c1 = authed()
      try {
        assert(c1.seenCount == 2, "authenticated list must deliver both events")
        c1.release(2)
      } finally c1.close()
      // restart: a fresh client re-lists THROUGH auth and replays from
      // the committed offset (the at-least-once restart contract)
      val c2 = authed()
      try {
        c2.alignBase(2)
        assert(c2.seenCount == 4, "restarted client must re-list with the token")
        val replay = c2.slice(2, 4)
        assert(replay.exists(_.contains("\"uid\":\"u1\"")) && replay.exists(_.contains("\"uid\":\"u2\"")))
      } finally c2.close()
    } finally api.stop()
  }

  test("https endpoint: cluster-CA trust + bearer token against a TLS API server") {
    import scala.sys.process._
    val dir = Files.createTempDirectory("kw_tls")
    val ks = dir.resolve("ks.p12").toString
    val pem = dir.resolve("ca.pem").toString
    // self-signed server cert; its PEM export plays the cluster CA bundle
    assert(Seq("keytool", "-genkeypair", "-alias", "srv", "-keyalg", "RSA", "-keysize", "2048",
      "-storetype", "PKCS12", "-keystore", ks, "-storepass", "changeit",
      "-dname", "CN=localhost", "-validity", "2",
      "-ext", "SAN=dns:localhost,ip:127.0.0.1").! == 0, "keytool genkeypair failed")
    assert(Seq("keytool", "-exportcert", "-rfc", "-alias", "srv", "-keystore", ks,
      "-storepass", "changeit", "-file", pem).! == 0, "keytool exportcert failed")
    val ksObj = java.security.KeyStore.getInstance("PKCS12")
    val fin = Files.newInputStream(java.nio.file.Paths.get(ks))
    try ksObj.load(fin, "changeit".toCharArray) finally fin.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ksObj, "changeit".toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    val server = com.sun.net.httpserver.HttpsServer.create(new InetSocketAddress(0), 0)
    server.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
    @volatile var sawAuth: String = null
    server.createContext("/api/v1/events", exchange => {
      sawAuth = exchange.getRequestHeaders.getFirst("Authorization")
      val body =
        """{"kind":"EventList","metadata":{"resourceVersion":"1"},"items":[{"metadata":{"uid":"tls1","resourceVersion":"1"}}]}"""
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      exchange.sendResponseHeaders(200, bytes.length)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    })
    server.start()
    try {
      val tokenFile = dir.resolve("token")
      Files.writeString(tokenFile, "tls-tok")
      val client = new graft.sources.KubeWatchClient(
        s"https://localhost:${server.getAddress.getPort}", None, 10, 100, 1024, listWaitMs = 5000,
        tokenFile = Some(tokenFile.toString), caCertFile = Some(pem))
      try {
        assert(client.seenCount == 1, "TLS list must deliver the event through the custom CA")
        assert(sawAuth == "Bearer tls-tok", s"bearer header missing over https: $sawAuth")
        assert(client.slice(0, 1).head.contains("tls1"))
      } finally client.close()
    } finally server.stop(0)
  }

  test("release beyond the buffered prefix advances base to the committed end (no silent loss)") {
    val api = new FakeKubeApi
    try {
      api.add("u1", 1); api.add("u2", 2)
      val client = new graft.sources.KubeWatchClient(
        s"http://localhost:${api.port}", None, 10, 50, 1024, listWaitMs = 5000)
      try {
        assert(client.seenCount == 2)
        // crash-replay shape: the offsets WAL committed batch [0,5) but
        // only 2 rows had been re-listed when the batch was sliced —
        // the commit's release must push base to 5, so rows listed
        // AFTERWARD land at fresh offsets instead of already-committed
        // ones (which the next release would discard undelivered)
        client.release(5)
        api.add("u3", 3)
        val deadline = System.currentTimeMillis() + 15000
        while (client.seenCount < 6 && System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(client.seenCount == 6, "late-listed row must land at offset >= the committed end")
        val got = client.slice(5, 6)
        assert(got.length == 1 && got.head.contains("\"uid\":\"u3\""), got.mkString(","))
      } finally client.close()
    } finally api.stop()
  }

  test("config resolution: env supplies CACHE_DB/CACHE_TTL, CLI overrides") {
    assert(KesMain.resolve(Array("in", "out"), Map("CACHE_DB" -> "/ck", "CACHE_TTL" -> "60"))
      == (("in", "out", "/ck", "60 seconds", false)))
    assert(KesMain.resolve(Array("in", "out", "/cli", "2 hours", "--once"),
        Map("CACHE_DB" -> "/env", "CACHE_TTL" -> "60"))
      == (("in", "out", "/cli", "2 hours", true)))
    assert(KesMain.resolve(Array("in", "out", "/ck"), Map.empty[String, String])._4
      == "3600 seconds", "reference default CACHE_TTL is 3600 s")
    assert(KesMain.resolve(Array("in", "out"), Map.empty)._3 == "events-db",
      "reference default CACHE_DB is events-db (config.rs:12)")
  }
}
