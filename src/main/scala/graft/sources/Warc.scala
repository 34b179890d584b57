package graft.sources

/** WARC 1.0 record grammar (ISO 28500 / the public IIPC spec) — the
  * container Common Crawl actually ships: a record is a version line
  * `WARC/1.0\r\n`, named headers (Content-Length mandatory) ended by
  * a blank line, Content-Length payload bytes, and a `\r\n\r\n`
  * record terminator. In .warc.gz each record is its own gzip MEMBER
  * (the spec's record-at-time compression), so readers can skip and
  * the stream stays splittable at member bounds.
  *
  * This object is the pure byte-level half: building records, and a
  * resyncing record scanner with PER-RECORD quarantine (a malformed
  * record — bad version line, unparseable headers, missing/oversized
  * Content-Length, missing terminator — is quarantined raw and the
  * scan resyncs at the next `WARC/1.0\r\n`, so one rotten record
  * never poisons a shard). File-level custody (gzip member walk,
  * truncation) lives in [[Sinks.readWarcGzIngest]].
  */
object Warc {

  private val Crlf = "\r\n"
  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** A parsed record: selected headers + payload bytes. */
  final case class Record(warcType: String, recordId: String,
      targetUri: String, contentLength: Long, nHeaders: Int,
      payload: Array[Byte])

  /** Either a parsed record or a quarantined raw snippet. */
  final case class ScanResult(records: Seq[Record], quarantined: Seq[String])

  /** Build one response record's bytes (headers ASCII, payload UTF-8
    * text) — deterministic, so the gated profile key's oracle can
    * re-derive every field from the source row.
    */
  def responseRecord(recordId: String, targetUri: String,
      text: String): Array[Byte] = {
    val payload = text.getBytes(Utf8)
    val hdr = new StringBuilder()
      .append("WARC/1.0").append(Crlf)
      .append("WARC-Type: response").append(Crlf)
      .append("WARC-Record-ID: <").append(recordId).append(">").append(Crlf)
      .append("WARC-Date: 2026-01-01T00:00:00Z").append(Crlf)
      .append("WARC-Target-URI: ").append(targetUri).append(Crlf)
      .append("Content-Type: text/plain").append(Crlf)
      .append("Content-Length: ").append(payload.length).append(Crlf)
      .append(Crlf).toString.getBytes(Ascii)
    val out = new Array[Byte](hdr.length + payload.length + 4)
    System.arraycopy(hdr, 0, out, 0, hdr.length)
    System.arraycopy(payload, 0, out, hdr.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Gzip one record as its own member (record-at-time compression). */
  def gzipMember(record: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(record); gz.finish(); gz.close()
    bo.toByteArray
  }

  private val Magic = "WARC/1.0\r\n".getBytes(Ascii)

  private def indexOfMagic(b: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val last = b.length - Magic.length
    while (i <= last) {
      var j = 0
      while (j < Magic.length && b(i + j) == Magic(j)) j += 1
      if (j == Magic.length) return i
      i += 1
    }
    -1
  }

  /** Scan a decompressed shard sequentially: a healthy record is
    * consumed by its declared Content-Length (payloads may legally
    * CONTAIN the version-line bytes — splitting on the magic would
    * shred them; the length jump is how every real WARC reader
    * walks); a malformed span (bad version line, unparseable headers,
    * missing/oversized Content-Length, missing terminator) is
    * quarantined raw (first ≤200 bytes, replay forensics) and the
    * scan RESYNCS at the next version line, so one rotten record
    * never poisons the shard.
    */
  def scan(bytes: Array[Byte]): ScanResult = {
    val records = Seq.newBuilder[Record]
    val quarantined = Seq.newBuilder[String]
    def snippet(from: Int, until: Int): String =
      new String(bytes, from, math.min(until - from, 200), Utf8)
    var pos = 0
    while (pos < bytes.length) {
      parseOne(bytes, pos) match {
        case Some((r, nextPos)) =>
          records += r
          pos = nextPos
        case None =>
          val next = indexOfMagic(bytes, pos + 1)
          val until = if (next < 0) bytes.length else next
          quarantined += snippet(pos, until)
          pos = until
      }
    }
    ScanResult(records.result(), quarantined.result())
  }

  /** Parse one record at `start`; Some((record, posAfterTerminator))
    * or None on any grammar violation (the caller quarantines and
    * resyncs).
    */
  private def parseOne(bytes: Array[Byte], start: Int): Option[(Record, Int)] = {
    var j = 0
    while (j < Magic.length) {
      if (start + j >= bytes.length || bytes(start + j) != Magic(j)) return None
      j += 1
    }
    // find the header/payload separator \r\n\r\n
    var sep = -1
    var i = start + Magic.length
    while (sep < 0 && i + 3 < bytes.length) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
        bytes(i + 2) == '\r' && bytes(i + 3) == '\n') sep = i
      i += 1
    }
    if (sep < 0) return None
    val headerText = new String(bytes, start, sep - start, Utf8)
    val lines = headerText.split("\r\n", -1)
    if (lines.length < 2 || lines(0) != "WARC/1.0") return None
    val hs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    lines.drop(1).foreach { l =>
      val c = l.indexOf(':')
      if (c <= 0) return None
      hs(l.substring(0, c).trim.toLowerCase) = l.substring(c + 1).trim
    }
    val clen = hs.get("content-length").flatMap(_.toLongOption).getOrElse(-1L)
    if (clen < 0) return None
    val pstart = sep + 4
    val recEnd = pstart.toLong + clen + 4
    if (recEnd > bytes.length) return None // truncated payload
    val e = recEnd.toInt
    if (bytes(e - 4) != '\r' || bytes(e - 3) != '\n' ||
      bytes(e - 2) != '\r' || bytes(e - 1) != '\n') return None
    val payload = java.util.Arrays.copyOfRange(bytes, pstart, pstart + clen.toInt)
    Some((Record(
      hs.getOrElse("warc-type", ""),
      hs.getOrElse("warc-record-id", "").stripPrefix("<").stripSuffix(">"),
      hs.getOrElse("warc-target-uri", ""),
      clen, hs.size, payload), e))
  }
}
