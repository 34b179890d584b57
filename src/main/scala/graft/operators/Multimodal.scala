package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal column plumbing (SURVEY §2.F): treat payloads as opaque
  * `binary` columns with typed metadata. The decode step is a REAL
  * netpbm (P5/P6) codec ([[Ppm]], r10) — header parse + raw raster,
  * no external imaging library needed — batch-invoked from
  * `mapPartitions` the way a production codec would be; JPEG/PNG
  * would swap in at the same typed boundary. Payloads for F2/F3 are
  * genuine P6 bytes constructed with SQL-expressible built-ins, so
  * the real decode is oracle-gated end to end.
  */
object Multimodal {

  /** F1: binary column + typed metadata — byte length, md5 checksum,
    * 8-byte hex prefix. Pure codegen'd expressions over the binary.
    */
  def mmBinaryMeta(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("checksum"),
        lower(hex(substring(col("payload"), 1, 8))).as("prefix_hex"))

  /** F5: exact asset dedup by content checksum — the first pass every
    * multimodal corpus runs (identical images/audio re-crawled under
    * different ids): group by the payload's md5, keep the lowest id,
    * count copies. One narrow hash pass + one checksum-keyed shuffle
    * (the md5 rides the map side; payload bytes never shuffle).
    */
  def mmExactDedup(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"), md5(col("payload")).as("checksum"))
      .groupBy(col("checksum"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** F6a: perceptual hash — 60-bit gradient (dHash) signature per
    * payload (see [[graft.functions.DHash60]]). One narrow codegen'd
    * pass, no shuffle: the 8-byte signature is what downstream banding
    * joins move, never the payload.
    */
  def mmPhash(t: Tables): DataFrame =
    phashes(t)

  private def phashes(t: Tables): DataFrame =
    t.documents.select(col("doc_id"),
      call_function("graft_dhash60", col("text").cast("binary")).as("phash"))

  /** F6b: perceptual near-dup pairs — the modality F5's exact checksum
    * misses (re-encoded/lightly edited assets): pigeonhole banding of
    * the 60-bit phash into 4 × 15-bit chunks (hamming ≤ 3 guarantees a
    * shared chunk; larger thresholds are recall-best-effort, same
    * contract as C4b), candidates share a chunk, verified by exact
    * hamming. Scale shape: the join is an equi-join on
    * (chunk, chunk_val) over 8-byte keys — banding bounds candidates,
    * no all-pairs anywhere.
    */
  def mmPhashPairs(t: Tables, maxHamming: Int = 4): DataFrame = {
    val chunks = phashes(t).select(col("doc_id"), col("phash"),
      expr("""stack(4,
        0, (phash >> 0)  & 32767,
        1, (phash >> 15) & 32767,
        2, (phash >> 30) & 32767,
        3, (phash >> 45) & 32767) AS (chunk, chunk_val)"""))
    val c2 = chunks.select(col("doc_id").as("db"), col("phash").as("ph2"),
      col("chunk").as("chunk2"), col("chunk_val").as("chunk_val2"))
    chunks.join(c2,
        col("chunk") === col("chunk2") && col("chunk_val") === col("chunk_val2") &&
          col("doc_id") < col("db"))
      .select(col("doc_id").as("doc_a"), col("db").as("doc_b"),
        bit_count(col("phash").bitwiseXOR(col("ph2"))).as("hamming"))
      // filter BEFORE distinct (guide §2.3 — shuffle fewer bytes):
      // hamming is a pure function of the pair's two phashes, so the
      // multi-chunk duplicate rows carry identical hamming and
      // distinct∘filter ≡ filter∘distinct; the distinct's exchange
      // then moves only qualifying pairs, not the full banded
      // candidate volume (which grows ~quadratically in per-bucket
      // density while qualifying pairs stay near-linear).
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** F8: hamming-distance histogram over the banded pair relation —
    * the dataset-card that picks F6's dedup threshold (C19's ladder
    * for media): per distance 0..maxHamming, how many
    * pigeonhole-reachable pairs exist. Zero-filled from a tiny static
    * grid so an empty distance reads as 0, not a missing row; cost is
    * the F6 feeder + a ≤(maxHamming+1)-key rollup.
    */
  def mmPhashHammingHist(t: Tables, maxHamming: Int = 8): DataFrame = {
    val hist = mmPhashPairs(t, maxHamming)
      .groupBy(col("hamming").cast("long").as("h"))
      .agg(count(lit(1)).as("n"))
    t.spark.range(0, maxHamming + 1L).select(col("id").as("hamming"))
      .join(hist, col("hamming") === col("h"), "left")
      .select(col("hamming"), coalesce(col("n"), lit(0L)).as("n_pairs"))
      .orderBy(col("hamming"))
  }

  /** F6c: perceptual near-dup CLUSTERS — pairs alone don't dedup a
    * media corpus; transitive groups do (a re-encode of a re-encode
    * pairs with both ancestors). F6b's banded pairs feed the C7
    * connected-components machinery (Dedup.clusterPairs); canonical =
    * lowest doc_id per component. The pair feeder is checkpointed so
    * CC rounds re-read tiny in-memory pairs, never the banding join.
    */
  def mmPhashClusters(t: Tables, maxHamming: Int = 4, maxIter: Int = 20): DataFrame =
    Dedup.clusterPairs(
      mmPhashPairs(t, maxHamming).select(col("doc_a"), col("doc_b"))
        .localCheckpoint(true),
      t.documents.select(col("doc_id")), maxIter, "mm_phash_clusters")

  /** F20: JOINT cross-modal dedup clusters (r11 — the pair-dataset
    * shape: LAION-style corpora are (text, image) PAIRS, and a row is
    * a duplicate when EITHER modality matches — re-hosted images under
    * rewritten captions, and re-captioned crops of the same image,
    * both defeat single-modality dedup): the C5 verified text-jaccard
    * pairs and the F6b banded perceptual pairs UNION into one edge
    * relation, and the shared C7 connected-components machinery
    * clusters over it — a component may chain text-dup and image-dup
    * edges (A ~text B ~image C), which is exactly the transitive
    * semantics a pair corpus needs. Canonical = lowest doc_id.
    *
    * Scale shape: strictly the union of the two feeders' pinned plans
    * (both df/band-bounded, never all-pairs) + CC over the tiny pair
    * relation; the union adds no new shuffle class.
    */
  def mmJointDedup(t: Tables, threshold: Double = 0.2, maxHamming: Int = 4,
      maxIter: Int = 20): DataFrame = {
    val textPairs = Dedup.docNgramJaccard(t, threshold)
      .select(col("doc_a"), col("doc_b"))
    val imgPairs = mmPhashPairs(t, maxHamming)
      .select(col("doc_a"), col("doc_b"))
    val edges = Dedup.stableCheckpoint(
      textPairs.unionByName(imgPairs).distinct())
    Dedup.clusterPairs(edges,
      t.documents.select(col("doc_id")), maxIter, "mm_joint_dedup")
      .select(col("doc_id"), col("cluster"), col("is_canonical"))
  }

  /** F9: keep-best canonical per perceptual cluster — C15's
    * quality-aware selection on the media side: within each F6c
    * near-dup cluster keep the LARGEST asset (bytes ≈ the
    * least-re-encoded original; re-encodes and thumbnails lose bytes),
    * tie → lowest doc_id. One cluster-keyed window (groups = cluster
    * sizes, bounded by near-dup fan-in) + the keeper join-back —
    * no new shuffle class beyond F6c's CC rounds.
    */
  def mmDedupKeepBest(t: Tables, maxHamming: Int = 4, maxIter: Int = 20): DataFrame = {
    val clusters = mmPhashClusters(t, maxHamming, maxIter)
      .select(col("doc_id"), col("cluster"))
    val sizes = t.documents
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
    // keeper computed INSIDE the one cluster-keyed window pass (r16):
    // the rn=1 + join-back form consumed the scored relation twice
    // (which is what r15's checkpoint compensated for) and paid a
    // second cluster shuffle for the join — first_value over the
    // unbounded frame IS the rn=1 row's doc_id, attached to every row
    // of the cluster in the same WindowExec. One payload byte scan,
    // one shuffle, no checkpoint, no join.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("n_bytes").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    clusters.join(sizes, "doc_id")
      .withColumn("keeper", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster"), col("n_bytes"), col("keeper"),
        (col("doc_id") === col("keeper")).cast("int").as("keep"))
  }

  final case class MmDecoded(doc_id: Long, format: String,
      width: Option[Int], height: Option[Int], channels: Option[Int],
      maxval: Option[Int], mean_r_r6: Option[Double],
      mean_g_r6: Option[Double], mean_b_r6: Option[Double], n_bytes: Int)

  /** The REAL batched decoder (replaces the r1–r9 synthetic stub):
    * [[Ppm.parse]] over each payload, unparseable bytes surfacing as
    * an explicit `corrupt` row instead of fake features. Batch-shaped
    * like a production codec call (`mapPartitions` + `grouped(64)` is
    * the Scala analog of `mapInPandas` batches).
    */
  private def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[MmDecoded] =
    batch.map { case (id, bytes) =>
      // magic dispatch: 0x89'PNG' → the PNG codec, 'BM' → BMP,
      // 'P5'/'P6' → netpbm; anything else (including a failed parse
      // under any magic) is the explicit corrupt quarantine row
      if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 &&
        bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
        (try Png.parse(bytes) catch {
          case scala.util.control.NonFatal(_) => None
        }) match {
          case Some(img) =>
            val m = Png.channelMeans(img).map(r6d)
            // the format tag reports what was actually PARSED (gray /
            // truecolor / palette) — a mis-dispatched layout is a
            // per-document gate failure, not a silent relabel
            val fmt = (img.colorType match {
              case 0 => "PNG8G"
              case 3 => "PNG8P"
              case _ => "PNG8"
            }) + (if (img.interlaced) "I" else "")
            MmDecoded(id, fmt, Some(img.width), Some(img.height),
              Some(3), Some(255), Some(m(0)), Some(m(1)), Some(m(2)),
              bytes.length)
          case None =>
            MmDecoded(id, "corrupt", None, None, None, None, None, None,
              None, bytes.length)
        }
      else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M')
        Bmp.parse(bytes) match {
          case Some(img) =>
            val m = Bmp.channelMeans(img).map(r6d)
            MmDecoded(id, "BMP24", Some(img.width), Some(img.height),
              Some(3), Some(255), Some(m(0)), Some(m(1)), Some(m(2)),
              bytes.length)
          case None =>
            MmDecoded(id, "corrupt", None, None, None, None, None, None,
              None, bytes.length)
        }
      else Ppm.parse(bytes) match {
        case Some(img) =>
          val m = Ppm.channelMeans(img).map(r6d)
          MmDecoded(id, img.format, Some(img.width), Some(img.height),
            Some(img.channels), Some(img.maxval), Some(m(0)),
            if (img.channels == 3) Some(m(1)) else None,
            if (img.channels == 3) Some(m(2)) else None, bytes.length)
        case None =>
          MmDecoded(id, "corrupt", None, None, None, None, None, None,
            None, bytes.length)
      }
    }

  private def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Deterministic P6 payload per document — REAL netpbm bytes built
    * with codegen'd string built-ins (dims 1..8 from doc_id, printable
    * ASCII pixels from an affine generator, so `cast(string AS
    * binary)` is byte-identical to the ASCII raster): the corpus stand-
    * in for an image column the container has no codecs to produce.
    * Everything here is SQL-expressible, which is what lets the REAL
    * decode downstream be oracle-gated end to end.
    */
  private def p6Payload(docs: DataFrame): DataFrame = {
    val w = (lit(1) + pmod(col("doc_id"), lit(8))).cast("int")
    val h = (lit(1) + pmod(col("doc_id") * 13, lit(8))).cast("int")
    val pix = array_join(
      transform(sequence(lit(0), w * h * lit(3) - 1),
        i => call_function("char",
          lit(32) + pmod(col("doc_id") * 31 + i.cast("long") * 7, lit(95)))),
      "")
    docs.select(col("doc_id"),
      concat(lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"),
        lit("\n255\n"), pix).cast("binary").as("payload"))
  }

  /** Deterministic 24-bit BMP payload per doc_id: same dims (1..8 from
    * doc_id) and the SAME affine pixel formula as [[p6Payload]] —
    * logical raster index i = 3·(y·w + x) + c, c ∈ {R, G, B} — but
    * packed the way BMP actually stores pixels: little-endian headers,
    * bottom-up rows, BGR order, rows padded to 4 bytes. Because the
    * FEATURES are a pure function of the formula, the DuckDB oracle
    * re-derives them without byte-building (the F2 discipline); the
    * bytes themselves are genuine BMP that any external viewer parses.
    */
  private[graft] def bmpBytes(docId: Long): Array[Byte] = {
    val w = (1 + (docId % 8)).toInt
    val h = (1 + ((docId * 13) % 8)).toInt
    def pix(i: Long): Int = (32 + (docId * 31 + i * 7) % 95).toInt
    val stride = ((3 * w + 3) / 4) * 4
    val size = 54 + stride * h
    val b = new Array[Byte](size) // zero-filled: reserved/ppm/palette fields
    def p16(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    }
    def p32(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    b(0) = 'B'; b(1) = 'M'
    p32(2, size); p32(10, 54); p32(14, 40)
    p32(18, w); p32(22, h); p16(26, 1); p16(28, 24)
    p32(30, 0); p32(34, stride * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = 54 + (h - 1 - y) * stride + 3 * x
        val li = 3L * (y * w + x)
        b(base) = pix(li + 2).toByte     // B
        b(base + 1) = pix(li + 1).toByte // G
        b(base + 2) = pix(li).toByte     // R
        x += 1
      }
      y += 1
    }
    b
  }

  /** F18: the F2 feature extract over REAL BMP payloads — the wild
    * container exercised end to end through the same magic-dispatching
    * decode boundary ([[mmDecodePayloads]]); features are re-derived
    * by the oracle from the shared affine formula, so the little-
    * endian header parse, data-offset honoring, bottom-up row walk,
    * BGR unpacking and padding skip are all gate-checked per document.
    */
  def mmFeatureExtractBmp(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, bmpBytes(id)))).toDF("doc_id", "payload")
    mmDecodePayloads(spark, payloads)
  }

  /** Deterministic 8-bit RGB PNG payload per doc_id: same dims and the
    * SAME affine pixel formula as [[p6Payload]]/[[bmpBytes]], rows
    * filtered with type y % 5 — all FIVE standard filters live in the
    * gate-checked path, so a wrong Sub/Up/Average/Paeth recurrence
    * fails per document, not just in a unit spec. Stored-block zlib
    * keeps n_bytes a pure function of the dims (68 + h·(1+3w)).
    */
  private[graft] def pngBytes(docId: Long): Array[Byte] = {
    val w = (1 + (docId % 8)).toInt
    val h = (1 + ((docId * 13) % 8)).toInt
    val rgb = new Array[Byte](3 * w * h)
    var i = 0
    while (i < rgb.length) {
      rgb(i) = (32 + (docId * 31 + i * 7L) % 95).toByte
      i += 1
    }
    Png.encode(w, h, rgb, y => y % 5)
  }

  /** F21: the F2 feature extract over REAL PNG payloads — the first
    * entropy-coded container through the magic-dispatching decode
    * boundary: chunk walk, per-chunk CRC-32, zlib inflation and all
    * five scanline filters are gate-checked per document against the
    * formula-derived oracle.
    */
  def mmFeatureExtractPng(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, pngBytes(id)))).toDF("doc_id", "payload")
    mmDecodePayloads(spark, payloads)
  }

  /** Deterministic 8-bit GRAYSCALE PNG per doc_id (color type 0):
    * same dims, the affine formula runs over the single channel, rows
    * filtered y % 5 — the bpp=1 filter recurrences (left/upper-left
    * taps one BYTE back) are what this corpus gate-checks. n_bytes =
    * 68 + h·(1+w).
    */
  private[graft] def pngGrayBytes(docId: Long): Array[Byte] = {
    val w = (1 + (docId % 8)).toInt
    val h = (1 + ((docId * 13) % 8)).toInt
    val g = new Array[Byte](w * h)
    var i = 0
    while (i < g.length) {
      g(i) = (32 + (docId * 31 + i * 7L) % 95).toByte
      i += 1
    }
    Png.encodeGray(w, h, g, y => y % 5)
  }

  /** F25: feature extract over grayscale PNG — the decoder replicates
    * the gray channel, so all three oracle means equal the formula's
    * single-channel mean and the format tag must come back PNG8G.
    */
  def mmFeatureExtractPngGray(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, pngGrayBytes(id)))).toDF("doc_id", "payload")
    mmDecodePayloads(spark, payloads)
  }

  /** Deterministic PALETTE PNG per doc_id (color type 3): 1 + id%16
    * PLTE entries whose channels run the affine formula over the
    * FLAT entry·channel index, pixel indices (id·7 + i·3) mod n —
    * the PLTE walk, the index→RGB resolution and the bpp=1 filters
    * are all gate-checked against the formula-derived per-channel
    * means. n_bytes = 68 + 12 + 3n + h·(1+w).
    */
  private[graft] def pngPaletteBytes(docId: Long): Array[Byte] = {
    val w = (1 + (docId % 8)).toInt
    val h = (1 + ((docId * 13) % 8)).toInt
    val n = (1 + (docId % 16)).toInt
    val plte = new Array[Byte](3 * n)
    var e = 0
    while (e < plte.length) {
      plte(e) = (32 + (docId * 31 + e * 7L) % 95).toByte
      e += 1
    }
    val idx = new Array[Byte](w * h)
    var i = 0
    while (i < idx.length) {
      idx(i) = ((docId * 7 + i * 3L) % n).toByte
      i += 1
    }
    Png.encodePalette(w, h, plte, idx, y => y % 5)
  }

  /** F25b: feature extract over palette PNG (format tag PNG8P). */
  def mmFeatureExtractPngPalette(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, pngPaletteBytes(id)))).toDF("doc_id", "payload")
    mmDecodePayloads(spark, payloads)
  }

  /** Deterministic ADAM7-interlaced truecolor PNG per doc_id: dims
    * are multiples of 8 (w = 8·(1+id%3), h = 8·(1+(id/3)%3)) so every
    * pass's reduced dims are exact divisions and the scanline volume
    * is a closed formula; the affine pixel formula runs over the FULL
    * raster (the pass split reorders bytes, never changes the pixel
    * multiset, so the channel means match the straight corpus's
    * arithmetic); filters cycle y%5 ACROSS passes, so every filter
    * type lands in several pass contexts — a decoder that fails to
    * reset the filter recurrence per pass, mis-walks the pass grid or
    * mis-sizes a reduced image fails per document.
    */
  private[graft] def pngAdam7Bytes(docId: Long): Array[Byte] = {
    val w = (8 * (1 + docId % 3)).toInt
    val h = (8 * (1 + (docId / 3) % 3)).toInt
    val rgb = new Array[Byte](3 * w * h)
    var i = 0
    while (i < rgb.length) {
      rgb(i) = (32 + (docId * 31 + i * 7L) % 95).toByte
      i += 1
    }
    Png.encodeAdam7(w, h, rgb, y => y % 5)
  }

  /** F27: feature extract over Adam7-interlaced PNG (format tag
    * PNG8I — the boundary reports the interlacing it actually
    * walked). Closes the last quarantined PNG branch: real crawled
    * corpora carry progressive-render images from the era when
    * interlacing was the default "fast preview" export.
    */
  def mmFeatureExtractPngAdam7(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, pngAdam7Bytes(id)))).toDF("doc_id", "payload")
    mmDecodePayloads(spark, payloads)
  }

  final case class MmJpeg(doc_id: Long, format: String,
      width: Option[Int], height: Option[Int], channels: Option[Int],
      maxval: Option[Int], mean_r6: Option[Double])

  /** The JPEG decode boundary (its own row shape: entropy-coded
    * payload size is not a pure function of the dims, so there is no
    * SQL-derivable n_bytes column here). Any (doc_id, payload)
    * relation through the real baseline decoder; unparseable or
    * out-of-envelope payloads surface as `format = 'corrupt'` rows.
    */
  def mmDecodeJpegPayloads(spark: org.apache.spark.sql.SparkSession,
      payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] = payloads.as[(Long, Array[Byte])]
    ds.mapPartitions(_.grouped(64).flatMap(_.map { case (id, bytes) =>
      (try Jpeg.parse(bytes) catch {
        case scala.util.control.NonFatal(_) => None
      }) match {
        case Some(img) =>
          MmJpeg(id, "JPEG8G", Some(img.width), Some(img.height),
            Some(1), Some(255), Some(r6d(Jpeg.meanPixel(img))))
        case None =>
          MmJpeg(id, "corrupt", None, None, None, None, None)
      }
    })).toDF()
  }

  /** Deterministic baseline-JPEG payload per doc_id — the DC-EXACT
    * corpus construction: dims 8·(1+doc_id%3) × 8·(1+(doc_id·7)%3),
    * every 8×8 block CONSTANT at (doc_id·31 + b·7) mod 256 (b =
    * row-major block index). Constant blocks have zero AC energy and
    * an exactly-representable DC, so with the all-ones quant table the
    * decode is bit-exact (see [[Jpeg]] scaladoc) and the oracle
    * re-derives the mean from the block formula — while the decoder
    * still runs the full general path (markers, canonical Huffman,
    * stuffing, zigzag, dequant, IDCT) over genuine JPEG bytes.
    */
  private[graft] def jpegBytes(docId: Long): Array[Byte] = {
    val w = (8 * (1 + docId % 3)).toInt
    val h = (8 * (1 + (docId * 7) % 3)).toInt
    val nb = (w / 8) * (h / 8)
    val blocks = Array.tabulate(nb)(b => ((docId * 31 + b * 7L) % 256L).toInt)
    Jpeg.encodeBlocks(w, h, blocks)
  }

  /** F23: feature extract over REAL baseline JPEG payloads — the
    * second entropy-coded container; Huffman tables, byte stuffing,
    * DC prediction, zigzag/dequant and the IDCT are all gate-checked
    * per document against the formula-derived oracle.
    */
  def mmFeatureExtractJpeg(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, jpegBytes(id)))).toDF("doc_id", "payload")
    mmDecodeJpegPayloads(spark, payloads)
  }

  final case class MmJpegColor(doc_id: Long, format: String,
      width: Option[Int], height: Option[Int], channels: Option[Int],
      mean_r_r6: Option[Double], mean_g_r6: Option[Double],
      mean_b_r6: Option[Double])

  /** The COLOR JPEG decode boundary (F23b): any (doc_id, payload)
    * relation through the real multi-component baseline decoder —
    * per-component quant/Huffman selection, MCU-interleaved 4:2:0
    * decode, chroma upsampling, YCbCr→RGB. Per-channel means are
    * integer pixel sums with one r6'd double division each;
    * out-of-envelope or corrupt payloads surface as quarantine rows.
    */
  def mmDecodeJpegColorPayloads(spark: org.apache.spark.sql.SparkSession,
      payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] = payloads.as[(Long, Array[Byte])]
    ds.mapPartitions(_.grouped(64).flatMap(_.map { case (id, bytes) =>
      (try Jpeg.parseColor(bytes) catch {
        case scala.util.control.NonFatal(_) => None
      }) match {
        case Some(img) =>
          val (sr, sg, sb) = Jpeg.channelSums(img)
          val n = (img.width.toLong * img.height).toDouble
          // the tag reports the PARSED luma sampling (a mis-dispatched
          // layout is a per-document gate failure, not a relabel)
          val fmt =
            if (img.channels != 3) "JPEG8G"
            else img.samp match {
              case 0x21 => "JPEG422"
              case 0x12 => "JPEG440"
              case 0x11 => "JPEG444"
              case _ => "JPEG420"
            }
          MmJpegColor(id, fmt,
            Some(img.width), Some(img.height), Some(img.channels),
            Some(r6d(sr / n)), Some(r6d(sg / n)), Some(r6d(sb / n)))
        case None =>
          MmJpegColor(id, "corrupt", None, None, None, None, None, None)
      }
    })).toDF()
  }

  /** Deterministic 4:2:0 color JPEG per doc_id — the DC-exact COLOR
    * corpus: dims 16·(1+id%2) × 16·(1+(id·7)%2); luma block b (row-
    * major over the (w/8)×(h/8) grid) constant at (id·31+b·7) mod 256;
    * chroma block c (over the (w/16)×(h/16) MCU grid) Cb = (id·17+
    * c·11) mod 256, Cr = (id·23+c·5) mod 256. Constant blocks decode
    * bit-exactly (all-ones quant) and replication upsampling of a
    * constant is the constant, so every pixel's RGB is the floor-
    * affine of its block's (Y, Cb, Cr) — which the oracle re-derives
    * per block while the decoder runs the full color machinery
    * (two quant + four Huffman tables, MCU interleave, per-component
    * predictors, upsample, color convert) over genuine JPEG bytes.
    */
  private[graft] def jpegColorBytes(docId: Long): Array[Byte] = {
    val w = (16 * (1 + docId % 2)).toInt
    val h = (16 * (1 + (docId * 7) % 2)).toInt
    val nb = (w / 8) * (h / 8)
    val nc = (w / 16) * (h / 16)
    Jpeg.encodeBlocksColor(w, h,
      Array.tabulate(nb)(b => ((docId * 31 + b * 7L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 17 + c * 11L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 23 + c * 5L) % 256L).toInt))
  }

  /** F23b: feature extract over REAL 4:2:0 COLOR JPEG payloads —
    * crawled corpora are overwhelmingly 3-component YCbCr 4:2:0, so
    * the color envelope is what the F23 machinery was for; gate-
    * checked per document against the block-formula oracle.
    */
  def mmFeatureExtractJpegColor(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, jpegColorBytes(id)))).toDF("doc_id", "payload")
    mmDecodeJpegColorPayloads(spark, payloads)
  }

  /** Deterministic 4:2:2 color JPEG per doc_id — the F23b block
    * pattern at Y 2×1 sampling: dims 16·(1+id%2) × 8·(1+(id·7)%3),
    * luma block b constant at (id·31+b·7) mod 256 over the
    * (w/8)×(h/8) grid, chroma block c over the (w/16)×(h/8) MCU grid
    * at Cb = (id·17+c·11) mod 256, Cr = (id·23+c·5) mod 256. Each
    * chroma block covers one 16×8 MCU — replication is horizontal
    * only, which is exactly the path this corpus gate-checks (a
    * decoder that replicates vertically too, or walks the 2-blocks-
    * per-MCU luma interleave in the 4:2:0 order, decodes wrong
    * pixels and hash-fails per document).
    */
  private[graft] def jpegColor422Bytes(docId: Long): Array[Byte] = {
    val w = (16 * (1 + docId % 2)).toInt
    val h = (8 * (1 + (docId * 7) % 3)).toInt
    val nb = (w / 8) * (h / 8)
    val nc = (w / 16) * (h / 8)
    Jpeg.encodeBlocksColor422(w, h,
      Array.tabulate(nb)(b => ((docId * 31 + b * 7L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 17 + c * 11L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 23 + c * 5L) % 256L).toInt))
  }

  /** F26: feature extract over REAL 4:2:2 COLOR JPEG payloads — the
    * second-most-common wild sampling (digital cameras, video
    * stills); the format tag must come back JPEG422.
    */
  def mmFeatureExtractJpeg422(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, jpegColor422Bytes(id)))).toDF("doc_id", "payload")
    mmDecodeJpegColorPayloads(spark, payloads)
  }

  /** Deterministic 4:4:0 color JPEG per doc_id — [[jpegColor422Bytes]]
    * TRANSPOSED to Y 1×2 sampling: dims 8·(1+(id·7)%3) ×
    * 16·(1+id%2), the 8×16 MCU stacks two luma blocks VERTICALLY and
    * each chroma block covers the whole MCU, so replication is
    * vertical only — a decoder that walks the 4:2:2 interleave or
    * replicates horizontally decodes wrong pixels and hash-fails per
    * document. Luma block (bx,by) resolves chroma at
    * (by/2)·(w/8)+bx.
    */
  private[graft] def jpegColor440Bytes(docId: Long): Array[Byte] = {
    val w = (8 * (1 + (docId * 7) % 3)).toInt
    val h = (16 * (1 + docId % 2)).toInt
    val nb = (w / 8) * (h / 8)
    val nc = (w / 8) * (h / 16)
    Jpeg.encodeBlocksColor440(w, h,
      Array.tabulate(nb)(b => ((docId * 31 + b * 7L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 17 + c * 11L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 23 + c * 5L) % 256L).toInt))
  }

  /** F28: feature extract over REAL 4:4:0 COLOR JPEG payloads — the
    * vertical sibling of F26; the format tag must come back JPEG440.
    */
  def mmFeatureExtractJpeg440(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, jpegColor440Bytes(id)))).toDF("doc_id", "payload")
    mmDecodeJpegColorPayloads(spark, payloads)
  }

  /** [[jpegColorBytes]] with a planted DRI restart interval of
    * 1 + id%3 MCUs: odd ids are 32×32 (4 MCUs) so they carry REAL
    * RST0..RSTn markers with byte-aligned resync and per-interval
    * predictor resets; even ids are one MCU — DRI declared, no
    * boundary (both legal shapes). Block pattern is identical to
    * F23b's, so the same block-formula oracle gates the restart
    * machinery: a decoder that mis-syncs a marker, breaks the modulo
    * sequence, or forgets the predictor reset (the encoder re-bases
    * every interval at 0) decodes wrong pixels and hash-fails.
    */
  private[graft] def jpegColorDriBytes(docId: Long): Array[Byte] = {
    val w = (16 * (1 + docId % 2)).toInt
    val h = (16 * (1 + (docId * 7) % 2)).toInt
    val nb = (w / 8) * (h / 8)
    val nc = (w / 16) * (h / 16)
    Jpeg.encodeBlocksColor(w, h,
      Array.tabulate(nb)(b => ((docId * 31 + b * 7L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 17 + c * 11L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 23 + c * 5L) % 256L).toInt),
      restartInterval = (1 + docId % 3).toInt)
  }

  /** F23c: feature extract over color JPEGs WITH restart intervals —
    * wild baseline JPEGs carry DRI routinely (any libjpeg encode with
    * restart markers); the decode boundary and features are F23b's,
    * the envelope now resyncs at RSTn and resets DC predictors per
    * interval instead of quarantining the whole payload.
    */
  def mmFeatureExtractJpegDri(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, jpegColorDriBytes(id)))).toDF("doc_id", "payload")
    mmDecodeJpegColorPayloads(spark, payloads)
  }

  /** PROGRESSIVE twin of [[jpegColorBytes]]: the identical DC-exact
    * block pattern as a four-stage SOF2 scan script (DC initial at
    * Al=4 with a live parity bit, DC refinement Ah=4→Al=3 restoring
    * it, per-component AC initial + AC refinement bands that are pure
    * EOBRUN runs), restart interval id%3 ∈ {0,1,2} so a third of the
    * corpus has no DRI and the rest restarts every scan on two
    * cadences. Same oracle formula as F23b/F23c: the block values are
    * what the stream encodes, the progressive machinery is HOW — a
    * decoder that mis-accumulates a scan, mis-runs an EOBRUN, drops a
    * refinement bit or mis-resyncs decodes wrong pixels and
    * hash-fails.
    */
  private[graft] def jpegColorProgressiveBytes(docId: Long): Array[Byte] = {
    val w = (16 * (1 + docId % 2)).toInt
    val h = (16 * (1 + (docId * 7) % 2)).toInt
    val nb = (w / 8) * (h / 8)
    val nc = (w / 16) * (h / 16)
    Jpeg.encodeBlocksColorProgressive(w, h,
      Array.tabulate(nb)(b => ((docId * 31 + b * 7L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 17 + c * 11L) % 256L).toInt),
      Array.tabulate(nc)(c => ((docId * 23 + c * 5L) % 256L).toInt),
      restartInterval = (docId % 3).toInt)
  }

  /** F24: feature extract over PROGRESSIVE (SOF2) color JPEGs —
    * crawled corpora are heavily progressive (the default web-export
    * script of every major encoder), so this is the envelope that
    * makes the JPEG boundary deployable; same decode boundary and
    * features as F23b, gate-checked per document against the
    * block-formula oracle.
    */
  def mmFeatureExtractJpegProg(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, jpegColorProgressiveBytes(id))))
      .toDF("doc_id", "payload")
    mmDecodeJpegColorPayloads(spark, payloads)
  }

  final case class MmAudio(doc_id: Long, format: String,
      sample_rate: Option[Int], n_channels: Option[Int],
      n_frames: Option[Long], duration_s_r: Option[Double],
      mean_abs_r: Option[Double], rms_r: Option[Double],
      zcr_r: Option[Double], n_bytes: Int)

  /** The audio decode boundary (the [[mmDecodePayloads]] sibling for
    * the third modality): any (doc_id, payload) relation through the
    * real RIFF/WAVE PCM codec; unparseable payloads surface as
    * `format = 'corrupt'` quarantine rows. Features are first-channel:
    * duration, mean |sample|, RMS, strict zero-crossing rate — the
    * silence/energy/spectral-proxy trio an audio curation filter bins
    * on; integer sums with one r6'd division each (the oracle
    * re-derives them with identical double ops).
    */
  def mmDecodeWavPayloads(spark: org.apache.spark.sql.SparkSession,
      payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] = payloads.as[(Long, Array[Byte])]
    ds.mapPartitions(_.grouped(64).flatMap(_.map { case (id, bytes) =>
      // The NonFatal net is part of the quarantine contract: a decode
      // bug on one malformed payload must degrade into a corrupt row,
      // never fail the whole job.
      (try Wav.parse(bytes) catch { case scala.util.control.NonFatal(_) => None }) match {
        case Some(a) =>
          val (sa, sq, zc) = Wav.features(a)
          val n = a.nFrames
          MmAudio(id, "PCM16", Some(a.sampleRate), Some(a.channels),
            Some(n.toLong),
            Some(r6d(n.toDouble / a.sampleRate)),
            Some(r6d(sa.toDouble / n)),
            Some(r6d(math.sqrt(sq.toDouble / n))),
            Some(if (n > 1) r6d(zc.toDouble / (n - 1)) else 0.0),
            bytes.length)
        case None =>
          MmAudio(id, "corrupt", None, None, None, None, None, None,
            None, bytes.length)
      }
    })).toDF()
  }

  /** Deterministic mono 16-bit PCM WAV per doc_id: 64 + doc_id%128
    * frames at 8 kHz, sample i = ((doc_id·31 + i·7) mod 2001) − 1000 —
    * a zero-crossing-rich affine signal the DuckDB oracle re-derives
    * without byte-building (the F2/F18 discipline). The bytes are a
    * genuine canonical 44-byte-header WAV any player parses.
    */
  private[graft] def wavBytes(docId: Long): Array[Byte] = {
    val n = (64 + (docId % 128)).toInt
    val rate = 8000
    val b = new Array[Byte](44 + 2 * n)
    def tag(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (c, i) => b(off + i) = c }
    def p16(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    }
    def p32(off: Int, v: Int): Unit = (0 until 4).foreach(i => b(off + i) = (v >> (8 * i)).toByte)
    tag(0, "RIFF"); p32(4, 36 + 2 * n); tag(8, "WAVE")
    tag(12, "fmt "); p32(16, 16); p16(20, 1); p16(22, 1)
    p32(24, rate); p32(28, rate * 2); p16(32, 2); p16(34, 16)
    tag(36, "data"); p32(40, 2 * n)
    var i = 0
    while (i < n) {
      p16(44 + 2 * i, (((docId * 31 + i * 7L) % 2001L) - 1000L).toInt & 0xffff)
      i += 1
    }
    b
  }

  /** F19: audio feature extract over REAL WAV payloads — the third
    * modality through its own quarantining decode boundary; the
    * chunk-walking header parse, little-endian int16 unpacking and
    * every feature are gate-checked per document against the
    * formula-derived oracle.
    */
  def mmWavFeatures(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, wavBytes(id)))).toDF("doc_id", "payload")
    mmDecodeWavPayloads(spark, payloads)
  }

  /** F2: batched REAL decode → feature-extract over binary image
    * payloads. The payload construction (p6Payload) is narrow codegen;
    * the decode is a genuine netpbm parse per payload — format, dims,
    * maxval, per-channel means — batch-invoked, shuffle-free, and
    * (because the payload generator is SQL-expressible) verified
    * against a DuckDB oracle that re-derives every feature
    * independently. Corrupt payloads surface as `format = 'corrupt'`
    * rows (exercised in MultimodalSpec with truncated/forged bytes).
    */
  def mmFeatureExtract(t: Tables): DataFrame =
    mmDecodePayloads(t.spark, p6Payload(t.documents))

  /** The public decode boundary: any `(doc_id: long, payload: binary)`
    * relation — a user's real image column — through the batched real
    * codec. Unparseable payloads come back as `format = 'corrupt'`
    * quarantine rows (never dropped silently, never an exception —
    * a 100 TB crawl always contains garbage bytes).
    */
  def mmDecodePayloads(spark: org.apache.spark.sql.SparkSession,
      payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] = payloads.as[(Long, Array[Byte])]
    ds.mapPartitions(_.grouped(64).flatMap(b => decodeBatch(b))).toDF()
  }

  final case class MmBin(doc_id: Long, bin: Long, n_px: Long)

  /** F17: per-image FIRST-CHANNEL pixel histogram from the REAL decode
    * (the second genuine consumer of the netpbm codec next to F2's
    * means — the exposure/contrast read an image-quality filter bins
    * on): 8 bins of 32 values over 0..255, one row per non-empty
    * (doc, bin). Because the payload generator is SQL-expressible,
    * the oracle re-derives every bin count from the affine pixel
    * formula independently of the parser. Corrupt payloads are
    * dropped (F2 owns the quarantine row).
    *
    * Scale shape: decode + bin inside one mapPartitions batch (no
    * shuffle); the output is ≤8 rows per image.
    */
  def mmChannelHist(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val ds = p6Payload(t.documents).as[(Long, Array[Byte])]
    ds.mapPartitions(_.grouped(64).flatMap(_.flatMap { case (id, bytes) =>
        Ppm.parse(bytes) match {
          case Some(img) =>
            val counts = new Array[Long](8)
            val n = img.width * img.height
            var p = 0
            while (p < n) {
              val v = img.raster(img.rasterOffset + p * img.channels) & 0xff
              counts(v >> 5) += 1
              p += 1
            }
            counts.zipWithIndex.collect {
              case (c, b) if c > 0 => MmBin(id, b.toLong, c)
            }
          case None => Nil
        }
      }))
      .toDF()
  }

  final case class MmResized(doc_id: Long, width: Int, height: Int,
      target_w: Int, target_h: Int, scale: Double)

  /** F3: resize plumbing — REAL decode → target-dimension compute
    * (fit-within-`targetMax`, never upscale). A real pipeline swaps
    * the scale math for the imaging library's resample call; the batch
    * shape and schema are what Spark sees either way. Corrupt payloads
    * are dropped (flatMap) — the quarantine row is F2's job.
    */
  def mmResize(t: Tables, targetMax: Int = 4): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val ds = p6Payload(t.documents).as[(Long, Array[Byte])]
    ds.mapPartitions(_.grouped(64).flatMap(b => decodeBatch(b).flatMap { f =>
        (f.width, f.height) match {
          case (Some(w), Some(h)) =>
            val s = math.min(1.0, targetMax.toDouble / math.max(w, h))
            Some(MmResized(f.doc_id, w, h,
              math.max(1, math.round(w * s).toInt),
              math.max(1, math.round(h * s).toInt), r6d(s)))
          case _ => None
        }
      }))
      .toDF()
  }

  /** F4: frame sampling — treat the payload as a "video" of fixed-size
    * frames, emit every `stride`-th frame (one row per sampled frame,
    * the explode-shaped output a frame pipeline feeds downstream).
    *
    * Pure built-ins (sequence → explode → substring → md5), unlike
    * F2/F3 where the typed boundary stands in for a real codec call:
    * frame slicing has no codec, so the typed flatMap it previously
    * used only bought a serialize/deserialize per row — this form
    * stays inside whole-stage codegen end to end (no
    * DeserializeToObject, PlanSpec-pinned).
    */
  def mmFrameSample(t: Tables, frameBytes: Int = 64, stride: Int = 4): DataFrame =
    t.documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("nf", expr(s"octet_length(payload) div $frameBytes").cast("int"))
      // explode of the empty branch drops short payloads, matching
      // "no frames" (sequence throws on start > stop with a positive
      // step, hence the guard)
      .select(col("doc_id"), col("payload"),
        explode(when(col("nf") > 0, sequence(lit(0), col("nf") - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * frameBytes).as("offset"),
        md5(expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
          .as("frame_md5"))

  /** F8: cross-asset frame dedup — sampled frames (F4's relation)
    * appearing in MORE THAN ONE asset: the shared-intro/outro/
    * watermark-bumper detector on video-like payloads (asset-level
    * dedup never sees it — the assets differ; the shared FRAMES are
    * the tell, the media cousin of E24's duplicated spans). One
    * frame-hash-keyed shuffle over the sampled (not full) frame
    * stream; payload bytes never shuffle (the md5 rides the map side).
    */
  def mmFrameDedup(t: Tables): DataFrame =
    mmFrameSample(t)
      .groupBy(col("frame_md5"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_assets"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_assets") >= 2)

  /** F10: frame-level PERCEPTUAL near-dup across assets — F8 catches
    * byte-identical shared frames (md5); this catches re-encoded /
    * lightly-corrupted shared scenes: each sampled frame gets a
    * DHash60 at 1-byte blocks (a 64-byte frame fills the 61-block
    * gradient grid), frames band 4×15-bit pigeonhole (hamming ≤ 3
    * guaranteed a shared chunk, larger best-effort per C4b's
    * contract), cross-ASSET candidates verify exact hamming, and the
    * pair relation rolls up per asset pair (shared-near-frame count +
    * closest match). Scale shape: banding bounds candidates, payload
    * bytes never shuffle (the 8-byte frame hash rides the map side),
    * and the rollup is pair-volume-bounded.
    */
  def mmFramePhashPairs(t: Tables, frameBytes: Int = 64, stride: Int = 4,
      maxHamming: Int = 4): DataFrame = {
    val frames = t.documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("nf", expr(s"octet_length(payload) div $frameBytes").cast("int"))
      .select(col("doc_id"), col("payload"),
        explode(when(col("nf") > 0, sequence(lit(0), col("nf") - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        call_function("graft_dhash60_b1",
          expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)")).as("ph"))
    val chunks = frames.select(col("doc_id"), col("frame_idx"), col("ph"),
      expr("""stack(4,
        0, (ph >> 0)  & 32767,
        1, (ph >> 15) & 32767,
        2, (ph >> 30) & 32767,
        3, (ph >> 45) & 32767) AS (chunk, chunk_val)"""))
    val c2 = chunks.select(col("doc_id").as("db"), col("frame_idx").as("fb"),
      col("ph").as("ph2"), col("chunk").as("chunk2"), col("chunk_val").as("chunk_val2"))
    val pairs = chunks.join(c2,
        col("chunk") === col("chunk2") && col("chunk_val") === col("chunk_val2") &&
          col("doc_id") < col("db"))
      .select(col("doc_id").as("doc_a"), col("frame_idx").as("fa"),
        col("db").as("doc_b"), col("fb"),
        bit_count(col("ph").bitwiseXOR(col("ph2"))).as("hamming"))
      // filter before distinct — exact (hamming is a pure function of
      // the frame pair); see mmPhashPairs
      .filter(col("hamming") <= maxHamming)
      .distinct()
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_near_frames"),
        min(col("hamming")).cast("int").as("min_hamming"))
  }

  /** F7: incremental perceptual dedup — a new asset batch (doc_id ≡ 0
    * mod `mod`) probes the maintained phash chunk index (F6's
    * pigeonhole banding; at deploy the index is the persisted artifact
    * a daily media drop joins against, C8b's shape on payload hashes).
    * Best partner = closest hamming, then lowest id, toward base or
    * earlier-batch assets only; batch-only candidates and the banded
    * equi-join are the only wide ops — payload bytes never shuffle
    * (the phash rides the map side like F5's checksum).
    */
  def mmPhashIncremental(t: Tables, mod: Int = 5, maxHamming: Int = 4): DataFrame = {
    val chunks = t.documents.select(col("doc_id"),
        call_function("graft_dhash60", col("text").cast("binary")).as("phash"))
      .select(col("doc_id"), col("phash"),
        expr("""stack(4,
          0, (phash >> 0)  & 32767,
          1, (phash >> 15) & 32767,
          2, (phash >> 30) & 32767,
          3, (phash >> 45) & 32767) AS (chunk, chunk_val)"""))
    val probe = chunks.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select(col("doc_id").as("da"), col("phash").as("pha"),
        col("chunk"), col("chunk_val"))
    val index = chunks.select(col("doc_id").as("db"), col("phash").as("phb"),
      col("chunk").as("chunk2"), col("chunk_val").as("chunk_val2"))
    val best = probe.join(index,
        col("chunk") === col("chunk2") && col("chunk_val") === col("chunk_val2") &&
          col("db") =!= col("da") &&
          (pmod(col("db"), lit(mod)) =!= 0 || col("db") < col("da")))
      .select(col("da"), col("db"),
        bit_count(col("pha").bitwiseXOR(col("phb"))).cast("int").as("hamming"))
      // filter before distinct — exact (hamming is a pure function of
      // the probe/index pair); see mmPhashPairs
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .groupBy(col("da"))
      .agg(min(struct(col("hamming"), col("db"))).as("best"))
      .select(col("da").as("doc_id"),
        col("best.db").as("dup_of"), col("best.hamming").as("hamming"))
    t.documents.filter(pmod(col("doc_id"), lit(mod)) === 0).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("hamming"),
        col("dup_of").isNull.cast("int").as("is_new"))
  }

  /** F12: scene-cut detection — consecutive sampled frames whose
    * perceptual distance jumps (hamming of per-frame DHash60 ≥
    * threshold): the shot-boundary detector that feeds frame-sampling
    * policy (sample MORE around cuts, less inside static scenes — at
    * 100 TB of video the cut list is what makes F4's uniform stride
    * adaptive). Emits one row per detected cut (the frame AFTER the
    * boundary, its predecessor, and the distance).
    *
    * Scale shape: per-frame hashes ride the F4/F10 narrow pass
    * (payload bytes never shuffle — the 60-bit hash does); the only
    * shuffle is the ASSET-keyed window for lag() — corpus-cardinality
    * key, per-group rows = frames/asset. The threshold compares
    * against the measured consecutive-frame distribution (p90 ≈ 36
    * on this corpus — the card a deploy would re-derive per format).
    */
  def mmSceneCuts(t: Tables, frameBytes: Int = 64, stride: Int = 4,
      threshold: Int = 36): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val fr = t.documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("nf", expr(s"octet_length(payload) div $frameBytes").cast("int"))
      .select(col("doc_id"), col("payload"),
        explode(when(col("nf") > 0, sequence(lit(0), col("nf") - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        call_function("graft_dhash60_b1",
          expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)")).as("ph"))
    fr.withColumn("prev_idx", lag(col("frame_idx"), 1).over(w))
      .withColumn("prev_ph", lag(col("ph"), 1).over(w))
      .filter(col("prev_ph").isNotNull)
      .withColumn("hamming", bit_count(col("ph").bitwiseXOR(col("prev_ph"))).cast("int"))
      .filter(col("hamming") >= threshold)
      .select(col("doc_id"), col("frame_idx"), col("prev_idx"), col("hamming"))
  }

  /** F15: cross-source perceptual duplication — F6's banded hamming
    * pairs rolled up by the SOURCE pair they span (C21's
    * cross-source exact-dup report, at the perceptual level: which
    * crawl feeds re-host each other's media — the dedup-priority and
    * licensing-risk read). Pair sources normalized (least, greatest)
    * so (a,b)/(b,a) collapse; same-source pairs excluded.
    *
    * Scale shape: F6's pigeonhole candidate machinery unchanged; the
    * source lookup is a doc-keyed join of the tiny pair relation;
    * rollup keys on #sources².
    */
  def mmCrossSourceDup(t: Tables, maxHamming: Int = 4): DataFrame = {
    val src = t.documents.select(col("doc_id"), col("source"))
    val pairs = mmPhashPairs(t, maxHamming)
      .join(src.select(col("doc_id").as("ia"), col("source").as("sa")),
        col("doc_a") === col("ia"))
      .join(src.select(col("doc_id").as("ib"), col("source").as("sb")),
        col("doc_b") === col("ib"))
      .filter(col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("hamming"))
    pairs.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("hamming")).cast("int").as("min_hamming"))
  }

  /** F14: per-asset video summary card — the one-row-per-asset read an
    * operator scans before sampling strategy decisions (F4 stride vs
    * F12 adaptive): sampled frame count, scene count (1 + cuts),
    * mean scene length, and the within-asset duplicate-frame share
    * (frames whose perceptual hash already appeared earlier in the
    * same asset — static/looping content, the "don't embed 400 copies
    * of the title card" number).
    *
    * Scale shape: the F4/F10 narrow hash pass + ONE asset-keyed sort
    * carrying the cut lag and the within-asset dup rank (same-asset
    * dup detection needs no cross-asset join at all); rollup keys on
    * #assets.
    */
  def mmVideoSummary(t: Tables, frameBytes: Int = 64, stride: Int = 4,
      threshold: Int = 36): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val dupW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("ph")).orderBy(col("frame_idx"))
    val fr = t.documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("nf", expr(s"octet_length(payload) div $frameBytes").cast("int"))
      .select(col("doc_id"), col("payload"),
        explode(when(col("nf") > 0, sequence(lit(0), col("nf") - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        call_function("graft_dhash60_b1",
          expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)")).as("ph"))
    val marked = fr
      .withColumn("prev_ph", lag(col("ph"), 1).over(w))
      .withColumn("is_cut",
        when(col("prev_ph").isNotNull &&
          bit_count(col("ph").bitwiseXOR(col("prev_ph"))) >= threshold, 1L)
          .otherwise(0L))
      .withColumn("dup_rank", row_number().over(dupW))
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        (sum(col("is_cut")) + 1).as("n_scenes"),
        sum(when(col("dup_rank") > 1, 1L).otherwise(0L)).as("n_dup_frames"))
      .select(col("doc_id"), col("n_frames"), col("n_scenes"),
        r6(col("n_frames").cast("double") / col("n_scenes").cast("double"))
          .as("mean_scene_len_r"),
        col("n_dup_frames"),
        r6(col("n_dup_frames").cast("double") / col("n_frames").cast("double"))
          .as("dup_frame_share_r"))
  }

  /** F13: keyframe selection — F12's scene segmentation composed with
    * a per-frame detail score into one representative frame per scene
    * (the thumbnail/embedding-input picker: at 100 TB of video you
    * embed ONE frame per shot, not every fourth frame — F4's stride
    * bounds the candidates, F12's cuts group them, this picks).
    * Scene id = running count of cut frames (a cut STARTS a new
    * scene); detail score = distinct byte values in the frame (the
    * stub's texture-richness stand-in for a Laplacian sharpness
    * score — the real decoder drops into the same argmax); keyframe =
    * argmax(detail, ties → earliest frame).
    *
    * Scale shape: frame hashing and the detail score are the F4/F10
    * narrow pass (payload bytes never shuffle — the per-position
    * explode lives inside a codegen'd transform/array_distinct
    * expression); the lag, the running cut count, and the per-scene
    * argmax all ride ONE asset-keyed sort (frames per asset are
    * duration-bounded); output is #scenes rows.
    */
  def mmKeyframeSelect(t: Tables, frameBytes: Int = 64, stride: Int = 4,
      threshold: Int = 36): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val fr = t.documents
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("nf", expr(s"octet_length(payload) div $frameBytes").cast("int"))
      .select(col("doc_id"), col("payload"),
        explode(when(col("nf") > 0, sequence(lit(0), col("nf") - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)").as("ft"))
      .select(col("doc_id"), col("frame_idx"),
        call_function("graft_dhash60_b1", col("ft")).as("ph"),
        expr("size(array_distinct(transform(sequence(1, octet_length(ft)), i -> substring(ft, i, 1))))")
          .cast("long").as("detail"))
    val scenes = fr
      .withColumn("prev_ph", lag(col("ph"), 1).over(w))
      .withColumn("is_cut",
        when(col("prev_ph").isNotNull &&
          bit_count(col("ph").bitwiseXOR(col("prev_ph"))) >= threshold, 1L)
          .otherwise(0L))
      .withColumn("scene_id", sum(col("is_cut")).over(w))
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("scene_id"))
      .orderBy(col("detail").desc, col("frame_idx").asc)
    scenes
      .withColumn("pn", row_number().over(pick))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(
        min(col("frame_idx")).as("start_idx"),
        max(col("frame_idx")).as("end_idx"),
        count(lit(1)).as("n_frames"),
        max(when(col("pn") === 1, col("frame_idx"))).as("key_frame_idx"),
        max(when(col("pn") === 1, col("detail"))).as("key_detail"))
  }

  /** F16: sharpness/quality PROXY without decoding — mean absolute
    * adjacent-byte gradient per asset. Blurred or flat-field images
    * (and silence-padded audio) have LOW byte-level gradient energy
    * after most encodings, while corrupt/truncated payloads sit at
    * extremes — this is the cheap first-pass drop-list signal a
    * multimodal curation run computes before paying for any decode
    * (the byte-level cousin of F12's frame-distance jumps; real
    * deployments re-rank the tail with a decoded Laplacian, which
    * stays behind the F2 stub boundary).
    *
    * Scale shape: ONE narrow per-row pass (a sequential fold over the
    * payload — no explode, no shuffle; output is 3 columns/asset).
    * Exact integer gradient sums; the mean is one double division r6'd.
    */
  def mmSharpnessProxy(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), col("text"))
      .withColumn("n_bytes", length(col("text")).cast("long"))
      .withColumn("grad_sum",
        call_function("graft_grad_energy", col("text").cast("binary")))
      .filter(col("n_bytes") > 1)
      .select(col("doc_id"), col("n_bytes"),
        r6(col("grad_sum").cast("double") /
          (col("n_bytes") - 1L).cast("double")).as("mean_abs_grad_r"))
}
