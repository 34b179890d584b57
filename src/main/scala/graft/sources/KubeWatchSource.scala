package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A real Kubernetes list-then-watch streaming source (DataSourceV2) —
  * the reference's actual ingest loop (reference src/tasks.rs:150-182:
  * kube-rs watcher with `InitialListStrategy::ListWatch`, default
  * backoff, bounded channel), re-expressed as a MicroBatchStream.
  *
  *   spark.readStream.format("k8s-events")
  *     .option("endpoint", "http://apiserver:8001")
  *     .option("namespace", "kube-system")   // optional; default all
  *     .load()                                // → value: string (Event JSON)
  *
  * Semantics, mirrored from the reference:
  *  - **list-then-watch**: on (re)start, GET `/api/v1/events` once,
  *    emit every item, bookmark `metadata.resourceVersion` of the list;
  *    then GET `...?watch=true&resourceVersion=<rv>` and append watch
  *    objects as they arrive, advancing the bookmark per object.
  *  - **backoff**: a dropped/errored watch reconnects with exponential
  *    backoff (capped), matching kube-rs `default_backoff`; HTTP 410
  *    (resourceVersion too old) falls back to a fresh list.
  *  - **bounded buffer**: ingest parks when `maxBuffer` events are
  *    un-consumed (the reference's capacity-1024 channel backpressure).
  *  - **restart**: offsets are monotonic event counts checkpointed by
  *    the engine; a restarted query re-lists and re-plays from the
  *    committed count. Pre-restart events still present in the fresh
  *    list are re-delivered — at-least-once, exactly like the
  *    reference, whose restart re-list is deduped by its persistent
  *    TTL cache; here `KubeEventOps.streamPipeline`'s
  *    dropDuplicatesWithinWatermark state (itself checkpointed) is
  *    that cache.
  *
  * The watcher is a single driver-side thread feeding micro-batch
  * partitions, exactly as the reference is a single watch task feeding
  * a channel: k8s Events are control-plane volume (the watch API is
  * one HTTP stream per list), so the scale lever is everything
  * downstream of ingest, which is ordinary distributed Spark.
  */
class KubeWatchSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "k8s-events"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KubeWatchSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KubeWatchTable(properties)
}

object KubeWatchSource {
  /** Raw Event JSON lines — the same shape as the wire feed, so
    * `KubeEventSource.parsed` applies unchanged downstream.
    */
  val schema: StructType = StructType(Seq(StructField("value", StringType)))
}

private[sources] class KubeWatchTable(props: java.util.Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"k8s-events(${props.get("endpoint")})"
  override def schema(): StructType = KubeWatchSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = KubeWatchSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new KubeWatchStream(
          endpoint = options.get("endpoint"),
          namespace = Option(options.get("namespace")),
          backoffInitMs = options.getLong("backoffInitMs", 200L),
          backoffMaxMs = options.getLong("backoffMaxMs", 5000L),
          maxBuffer = options.getInt("maxBuffer", 1024),
          listWaitMs = options.getLong("listWaitMs", 10000L),
          token = Option(options.get("token")),
          tokenFile = Option(options.get("tokenFile")),
          caCertFile = Option(options.get("caCertFile")))
    }
}

/** Monotonic count of events emitted since the stream's epoch. */
private[sources] case class KubeOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private[sources] class KubeWatchStream(
    endpoint: String,
    namespace: Option[String],
    backoffInitMs: Long,
    backoffMaxMs: Long,
    maxBuffer: Int,
    listWaitMs: Long,
    token: Option[String],
    tokenFile: Option[String],
    caCertFile: Option[String]) extends MicroBatchStream with SupportsAdmissionControl
    with ReportsSourceMetrics {

  private val client =
    new KubeWatchClient(endpoint, namespace, backoffInitMs, backoffMaxMs, maxBuffer, listWaitMs,
      token, tokenFile, caCertFile)

  override def initialOffset(): Offset = KubeOffset(0L)
  override def deserializeOffset(json: String): Offset = KubeOffset(json.toLong)

  // the engine calls the admission-control variant; it carries the
  // restored start offset, which is where restart re-alignment must
  // happen (before any count is observed)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(Offset, ReadLimit)")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // after a restart the first call carries the committed count; align
    // the fresh client's logical base to it once — the re-listed state
    // IS the stream from that point (see class doc)
    client.alignBase(start.asInstanceOf[KubeOffset].n)
    KubeOffset(client.seenCount)
  }

  override def reportLatestOffset(): Offset = KubeOffset(client.seenCount)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KubeOffset].n
    val e = end.asInstanceOf[KubeOffset].n
    // replay path: after a crash with an uncommitted batch in the
    // offsets WAL, the engine re-executes that batch WITHOUT calling
    // latestOffset first — this must align the fresh client's base
    // too, or the slice addresses arbitrary fresh-list rows and the
    // commit releases events that were never delivered (alignBase is
    // first-call-wins, so the duplicate call on the normal path is a
    // no-op)
    client.alignBase(s)
    Array(KubeWatchPartition(client.slice(s, e)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[KubeWatchPartition].lines
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        InternalRow(UTF8String.fromString(rows(i)))
      override def close(): Unit = ()
    }

  override def commit(end: Offset): Unit =
    client.release(end.asInstanceOf[KubeOffset].n)

  override def stop(): Unit = client.close()

  /** Backpressure observability — the reference's bounded channel is
    * watched through its gauges; here the buffer depth and stall count
    * ride the engine's own progress events (StreamingQueryProgress
    * .sources[].metrics), which GraftMetricsListener exports to
    * Prometheus.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("bufferedEvents", client.bufferedEvents.toString)
    m.put("backpressureStalls", client.backpressureStalls.toString)
    m
  }
}

private[sources] case class KubeWatchPartition(lines: Array[String]) extends InputPartition

/** Driver-side list+watch loop over the Events API: one ingest thread,
  * a bounded buffer, resourceVersion bookmarking, exponential-backoff
  * re-watch, 410 → re-list. JSON handling via Jackson (on Spark's
  * classpath); events are re-serialized node-for-node, so the emitted
  * line is the API object verbatim.
  */
private[graft] class KubeWatchClient(
    endpoint: String,
    namespace: Option[String],
    backoffInitMs: Long,
    backoffMaxMs: Long,
    maxBuffer: Int,
    listWaitMs: Long = 10000,
    token: Option[String] = None,
    tokenFile: Option[String] = None,
    caCertFile: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private val lock = new Object
  private val buf = ArrayBuffer[String]()   // buf(0) has logical offset `base`
  private var base = 0L                     // logical offset of buf(0)
  private var baseAligned = false
  private var started = false
  private val closed = new AtomicBoolean(false)
  private val stalls = new java.util.concurrent.atomic.AtomicLong(0)
  private val listAttempted = new java.util.concurrent.CountDownLatch(1)
  @volatile private var resourceVersion: String = null
  @volatile private var backoff = backoffInitMs

  private def listPath =
    namespace.fold("/api/v1/events")(ns => s"/api/v1/namespaces/$ns/events")

  def seenCount: Long = { ensureStarted(); lock.synchronized(base + buf.length) }

  /** First planInputPartitions after a restart: adopt the committed
    * count as the logical offset of the first re-listed event.
    */
  def alignBase(start: Long): Unit = lock.synchronized {
    if (!baseAligned) {
      baseAligned = true
      // shifting base re-addresses any already-listed buffer rows to
      // logical offsets ≥ start — they are the re-listed replay
      if (start > base) base = start
    }
  }

  def slice(start: Long, end: Long): Array[String] = {
    ensureStarted()
    lock.synchronized {
      val from = math.max(0, (start - base).toInt)
      val until = math.max(from, math.min(buf.length.toLong, end - base).toInt)
      buf.slice(from, until).toArray
    }
  }

  /** Committed prefix can be dropped — the bounded-channel release.
    * When the buffer is exhausted SHORT of `upTo` (a crash-replayed
    * batch committed while the initial re-list was still streaming in),
    * base still advances all the way to `upTo`: rows the list appends
    * afterward must land at offsets ≥ the committed end and re-deliver
    * in the next batch. Advancing only by the dropped rows would give
    * those late-listed rows already-committed offsets — the next
    * release would discard them undelivered (silent loss).
    */
  def release(upTo: Long): Unit = lock.synchronized {
    val drop = math.min(buf.length.toLong, math.max(0L, upTo - base)).toInt
    buf.dropInPlace(drop)
    base = math.max(base + drop, upTo)
    lock.notifyAll()
  }

  /** Spawns the ingest thread on first use, then waits (bounded) for
    * the initial list, or a full buffer if the list is larger, so the
    * first micro-batch isn't spuriously empty.
    * The wait happens OUTSIDE any monitor and the list itself runs on
    * the INGEST thread — running it on the engine thread deadlocked
    * when the initial list exceeded maxBuffer (append parks waiting
    * for a release() only the blocked engine thread could issue), and
    * a transient list failure killed the whole query instead of
    * retrying with backoff. After the timeout the engine proceeds with
    * whatever is buffered; the loop keeps retrying behind it.
    */
  private def ensureStarted(): Unit = {
    val spawn = lock.synchronized {
      if (!started && !closed.get) { started = true; true } else false
    }
    if (spawn) {
      val t = new Thread(() => ingestLoop(), s"k8s-watch-$endpoint")
      t.setDaemon(true)
      t.start()
    }
    listAttempted.await(listWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS): Unit
  }

  /** List (when the bookmark is empty) then watch, forever, with
    * exponential backoff on any failure — the kube-rs default_backoff
    * covers the LIST as well as the watch, and so does this loop.
    */
  private def ingestLoop(): Unit = {
    while (!closed.get) {
      try {
        if (resourceVersion == null) {
          try listOnce() finally listAttempted.countDown()
        }
        watchOnce()
      } catch {
        case _: InterruptedException => return
        case _: Exception => // refused / reset / timeout → backoff below
      }
      if (!closed.get) {
        Thread.sleep(backoff)
        backoff = math.min(backoff * 2, backoffMaxMs)
      }
    }
  }

  /** Un-consumed events currently buffered (the channel depth gauge). */
  def bufferedEvents: Int = lock.synchronized(buf.length)

  /** Times ingest parked on a full buffer (the backpressure counter). */
  def backpressureStalls: Long = stalls.get

  private def append(line: String): Unit = lock.synchronized {
    if (buf.length >= maxBuffer) {
      stalls.incrementAndGet()
      // a full buffer means the first batch cannot be empty, which is
      // all the initial-list latch waits for: release it now, or every
      // source call would wait listWaitMs until the rest of a list
      // larger than maxBuffer was buffered
      listAttempted.countDown()
    }
    // parked ingest is woken by release()'s notifyAll; the 100 ms
    // timeout only guards the close()-races-notify window, it is not a
    // poll loop
    while (buf.length >= maxBuffer && !closed.get) lock.wait(100)
    if (!closed.get) buf += line
  }

  /** Service-account auth + TLS — what the reference gets for free from
    * its client library's default construction (kubeconfig/in-cluster
    * discovery, reference src/main.rs:60): a real API server is always
    * HTTPS with a bearer token, so without these the source cannot
    * connect at all. Token precedence: explicit `token` option, else
    * `tokenFile` (default: the in-cluster service-account mount), read
    * PER REQUEST because kubelets rotate projected tokens. The cluster
    * CA (default: the in-cluster mount) backs a TrustManager applied to
    * https connections; plain http (kubectl proxy, tests) stays
    * untouched, and absent files mean no header / default trust — the
    * out-of-cluster dev path.
    */
  private val inClusterDir = "/var/run/secrets/kubernetes.io/serviceaccount"

  private def readIfExists(path: String): Option[String] = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isReadable(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
    else None
  }

  private def bearer(): Option[String] =
    token.orElse(readIfExists(tokenFile.getOrElse(s"$inClusterDir/token")))

  /** One SSLSocketFactory per client trusting exactly the cluster CA
    * bundle (may hold several certs mid-rotation). Built once: CA certs
    * don't rotate within a watch session, unlike tokens.
    */
  private lazy val sslFactory: Option[javax.net.ssl.SSLSocketFactory] = {
    val path = caCertFile.getOrElse(s"$inClusterDir/ca.crt")
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p)) None
    else {
      import scala.jdk.CollectionConverters._
      val in = java.nio.file.Files.newInputStream(p)
      val certs =
        try java.security.cert.CertificateFactory.getInstance("X.509").generateCertificates(in)
        finally in.close()
      val ks = java.security.KeyStore.getInstance(java.security.KeyStore.getDefaultType)
      ks.load(null, null)
      certs.asScala.zipWithIndex.foreach { case (c, i) => ks.setCertificateEntry(s"ca$i", c) }
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tmf.getTrustManagers, null)
      Some(ctx.getSocketFactory)
    }
  }

  private def get(path: String, readTimeoutMs: Int): HttpURLConnection = {
    val c = new URI(endpoint + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c match {
      case https: javax.net.ssl.HttpsURLConnection =>
        sslFactory.foreach(https.setSSLSocketFactory)
      case _ => ()
    }
    bearer().foreach(t => c.setRequestProperty("Authorization", s"Bearer $t"))
    c.setConnectTimeout(5000)
    c.setReadTimeout(readTimeoutMs)
    c
  }

  /** LIST: emit every current item, bookmark the list resourceVersion
    * (reference InitialListStrategy::ListWatch).
    */
  private def listOnce(): Unit = {
    val c = get(listPath, 10000)
    try {
      val root = mapper.readTree(c.getInputStream)
      val items = root.path("items")
      val it = items.elements()
      while (it.hasNext) append(mapper.writeValueAsString(it.next()))
      val rv = root.path("metadata").path("resourceVersion").asText(null)
      if (rv != null && rv.nonEmpty) resourceVersion = rv
    } finally c.disconnect()
  }

  /** One WATCH connection; each NDJSON line is `{"type":…,"object":…}`.
    * 410 Gone (bookmark expired) — whether an HTTP-level 410 response
    * or the in-stream form the API server actually sends (HTTP 200 +
    * `{"type":"ERROR","object":{"kind":"Status","code":410}}`) — drops
    * the bookmark so the next ingestLoop iteration falls back to a
    * fresh list. The Status object is never appended as an event.
    */
  private def watchOnce(): Unit = {
    val rvParam = Option(resourceVersion).fold("")(rv => s"&resourceVersion=$rv")
    val c = get(s"$listPath?watch=true$rvParam", 30000)
    try {
      if (c.getResponseCode == 410) { resourceVersion = null; return }
      val r = new BufferedReader(
        new InputStreamReader(c.getInputStream, StandardCharsets.UTF_8))
      var line = r.readLine()
      while (line != null && !closed.get) {
        if (line.nonEmpty) {
          val node = mapper.readTree(line)
          val obj = node.path("object")
          val kind = node.path("type").asText("")
          if (kind == "ERROR") { resourceVersion = null; return }
          val rv = obj.path("metadata").path("resourceVersion").asText(null)
          if (rv != null && rv.nonEmpty) resourceVersion = rv
          // BOOKMARK events only advance the rv; ADDED/MODIFIED carry data
          if (kind != "BOOKMARK" && !obj.isMissingNode && !obj.isNull)
            append(mapper.writeValueAsString(obj))
          backoff = backoffInitMs // healthy stream resets the backoff
        }
        line = r.readLine()
      }
    } finally c.disconnect()
  }

  def close(): Unit = {
    closed.set(true)
    lock.synchronized(lock.notifyAll())
  }
}
