package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-side surface (SURVEY §5): the layouts a 100 TB deployment
  * needs from day one — date-partitioned event storage (partition
  * pruning for time-range queries) and bucketed fact tables
  * (shuffle-free co-located joins on the bucket key).
  */
object Sinks {

  /** Date-partitioned parquet: `dt=YYYY-MM-DD/` directories. Readers
    * filtering on `dt` prune partitions at planning time; at 100 TB
    * this is the difference between scanning a day and scanning years.
    */
  def writeEventsPartitioned(events: DataFrame, path: String): Unit =
    events
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("dt")) // one task-group per partition dir, no tiny files
      .write.mode(SaveMode.Overwrite)
      .partitionBy("dt")
      .parquet(path)

  /** Corpus layout: documents hive-partitioned by (source, lang) —
    * the standard 100 TB training-corpus organization. Mixture
    * re-weighting, per-source decontamination, per-language filtering
    * and sampling (E7/E16/E25) all predicate on these two columns, so
    * the layout turns each of them from a full-corpus scan into a
    * planning-time directory prune. `repartition` on the partition
    * cols keeps one task-group per directory (no tiny-file explosion:
    * without it every upstream task writes a file into every
    * directory it touches — #tasks × #dirs files).
    */
  def writeDocsPartitioned(docs: DataFrame, path: String): Unit =
    docs
      .repartition(col("source"), col("lang"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("source", "lang")
      .parquet(path)

  /** Read half of `writeDocsPartitioned`: serves the SAME relation
    * shape as the flat `documents` table (column order included), so
    * `Tables(spark, dir, docsOverride = Some(readDocsPartitioned(…)))`
    * runs the entire doc-operator family off the partitioned layout
    * unchanged — and any operator that predicates on source/lang
    * (mix budgeting, per-language filters, decontamination scoped to
    * a source) now prunes directories at planning time instead of
    * scanning the corpus. SinksSpec pins operator-level equality
    * (same results off either layout) and the prune.
    */
  def readDocsPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("doc_id"), col("text"),
        col("lang").cast("string").as("lang"),
        col("source").cast("string").as("source"),
        col("n_chars"))

  /** Bucketed + sorted table: joins/aggregations on the bucket key
    * skip the shuffle entirely (both sides bucket-aligned). Bucketing
    * requires a table catalog → saveAsTable.
    */
  def writeEventsBucketed(events: DataFrame, table: String, buckets: Int = 8): Unit =
    events
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "user_id")
      .sortBy("user_id", "ts")
      .format("parquet")
      .saveAsTable(table)

  /** JSON-lines export of the emitted event stream (the ELK-bound
    * stdout form, as files).
    */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** JSONL ingestion — the read half of writeJsonLines, and the
    * format most crawled/exported corpora actually arrive in. The
    * schema is ENFORCED, not inferred: at 100 TB schema inference is
    * an extra full pass over the data before the first real one, and
    * a drifting input schema should fail loudly, not silently widen
    * columns. Malformed lines land in `_corrupt_record` (PERMISSIVE)
    * instead of killing the job — the caller splits the relation into
    * clean rows and a quarantine audit, the same
    * keep-everything-account-for-everything discipline as E14's
    * dropped-by-reason counts.
    */
  def readJsonLines(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** `readJsonLines` split into (clean, quarantined) — clean rows as
    * the enforced schema; quarantine keeps the raw line for replay
    * after a parser fix. Built over text + from_json rather than the
    * json reader's `_corrupt_record` (whose scans Spark refuses to
    * filter on the corrupt column alone without caching — a
    * corpus-scale cache this split exists to avoid): one codegen'd
    * parse per side, no pinned blocks.
    */
  def readJsonLinesAudited(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) =
    splitCorrupt(spark.read.text(path).select(col("value").as("raw_line")), Nil, schema)

  /** PERMISSIVE parse of each `raw_line` under the enforced `schema`,
    * split into (clean, quarantined): clean rows are the `keep` columns
    * then the schema's fields; quarantined rows keep `keep` and the raw
    * line for replay. Corrupt detection rides INSIDE the parsed struct:
    * PERMISSIVE parsing yields an all-null row (not a null struct) for
    * malformed input, so a bare rec-isNull test misses it; the declared
    * `_corrupt_record` field is set exactly for unparseable lines.
    */
  private def splitCorrupt(lines: DataFrame, keep: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      parse: (org.apache.spark.sql.Column, org.apache.spark.sql.types.StructType,
        Map[String, String]) => org.apache.spark.sql.Column = from_json,
      options: Map[String, String] = Map.empty): (DataFrame, DataFrame) = {
    val pSchema = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val parsed = lines.select(keep.map(col) :+ col("raw_line") :+
      parse(col("raw_line"), pSchema, Map("mode" -> "PERMISSIVE") ++ options ++
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")).as("rec"): _*)
    val bad = col("rec").isNull || col("rec._corrupt_record").isNotNull
    (parsed.filter(!bad).select(keep.map(col) :+ col("rec.*"): _*).drop("_corrupt_record"),
      parsed.filter(bad).select((keep :+ "raw_line").map(col): _*))
  }

  /** The three-relation result of an audited whole-file ingest (G28/
    * G34/G29/G36) PLUS the cache handle the r12 shape was missing: the
    * decoded relation persists (MEMORY_AND_DISK) so the three outputs
    * share one decode, and `unpersist()` releases those blocks once
    * the caller has materialized what it needs — a long-lived session
    * ingesting shard waves must not accumulate pinned caches it has no
    * handle to drop. `tuple` gives one-shot jobs the three relations
    * (executor exit reclaims the cache anyway).
    */
  final case class AuditedIngest(clean: DataFrame, badRows: DataFrame,
      badFiles: DataFrame, private val cached: DataFrame) {
    /** Drop the shared decoded cache (blocking, so a follow-up ingest
      * of the next wave starts from a clean store). Idempotent. */
    def unpersist(): Unit = { cached.unpersist(blocking = true); () }
    def tuple: (DataFrame, DataFrame, DataFrame) = (clean, badRows, badFiles)
  }

  /** G28: audited GZIP JSONL ingestion — crawled corpora arrive as
    * .jsonl.gz shards, and the failure mode Spark's transparent codec
    * path can't quarantine is the COMPRESSED member itself: a
    * truncated upload or bit-rotted shard makes Hadoop's gzip stream
    * throw mid-task and fail the whole job. This reader owns
    * decompression per file (binaryFile source → GZIPInputStream in
    * the executor) so corruption degrades into data, two levels deep:
    * an undecodable FILE lands whole in the file quarantine (path,
    * error, bytes — replayable after re-upload), and a decodable file's
    * unparseable LINES land raw in G16's line quarantine. Clean rows
    * come back under the enforced schema, tagged with their source
    * shard for provenance.
    *
    * Scale shape: gzip is non-splittable, so file-at-a-time IS the
    * parallelism grain any engine gets; binaryFile packs small shards
    * into shared tasks, and the per-task memory bound is one
    * decompressed shard — the same bound Spark's own .gz text read
    * carries. The whole-file materialization is what buys the
    * all-or-nothing member check (a lazily streamed file would emit
    * half its lines before the CRC failure surfaced).
    */
  def readJsonLinesGzIngest(spark: org.apache.spark.sql.SparkSession,
      path: String, schema: org.apache.spark.sql.types.StructType): AuditedIngest =
    readCompressedJsonLines(spark, path, schema, "gz_error",
      new java.util.zip.GZIPInputStream(_))

  /** G34: audited ZSTD JSONL ingestion — the G28 envelope for the
    * OTHER compression crawled corpora actually ship with (zstd is
    * Common Crawl's and most modern dump pipelines' codec; the
    * zstd-jni decoder is already on Spark's own classpath — Spark uses
    * it for shuffle/parquet compression). Same two-level quarantine:
    * an undecodable FILE (truncated frame, bit rot — ZstdInputStream
    * throws mid-stream) lands whole in the file quarantine; a decoded
    * file's unparseable LINES land raw in the line quarantine; clean
    * rows come back under the enforced schema, shard-tagged.
    *
    * Scale shape: single-frame zstd is non-splittable like gzip, so
    * file-at-a-time is the parallelism grain; the per-task memory
    * bound is one decompressed shard (producers block-size their
    * shards at 100 TB). Decoded relation persisted once for the
    * three-output fan-out (the G28 fix).
    */
  def readJsonLinesZstIngest(spark: org.apache.spark.sql.SparkSession,
      path: String, schema: org.apache.spark.sql.types.StructType): AuditedIngest =
    readCompressedJsonLines(spark, path, schema, "zst_error",
      new com.github.luben.zstd.ZstdInputStream(_))

  /** The G28/G34 reader over one codec: `decompress` wraps each file's
    * bytes, a file whose stream throws lands whole in the file
    * quarantine under `errorCol`.
    */
  private def readCompressedJsonLines(spark: org.apache.spark.sql.SparkSession,
      path: String, schema: org.apache.spark.sql.types.StructType, errorCol: String,
      decompress: java.io.InputStream => java.io.InputStream): AuditedIngest = {
    import spark.implicits._
    val decoded = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        try {
          val in = decompress(new java.io.ByteArrayInputStream(bytes))
          val text = try in.readAllBytes() finally in.close()
          new String(text, java.nio.charset.StandardCharsets.UTF_8)
            .split("\n", -1).filter(_.nonEmpty).toSeq
            .map(l => (p, l, null: String, bytes.length.toLong))
        } catch {
          case e: java.io.IOException =>
            Seq((p, null: String,
              e.getClass.getSimpleName + ": " + e.getMessage,
              bytes.length.toLong))
        }
      }
      .toDF("src_file", "raw_line", errorCol, "n_bytes")
      // the three returned relations all hang off this flatMap; without
      // a persist a job that writes clean rows plus both quarantines
      // re-decompresses every shard 2–3×. MEMORY_AND_DISK: a shard set
      // larger than executor memory spills instead of failing.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val badFiles = decoded.filter(col(errorCol).isNotNull)
      .select(col("src_file"), col(errorCol), col("n_bytes"))
    val (clean, badLines) = splitCorrupt(decoded.filter(col(errorCol).isNull),
      Seq("src_file"), schema)
    AuditedIngest(clean, badLines, badFiles, decoded)
  }

  /** G29: audited AVRO container ingestion (the binary sibling of G28
    * — warehouse exports and Kafka archive dumps arrive as .avro
    * container files, and this distro ships no spark-avro connector,
    * so the reader drives the avro-core `DataFileReader` directly
    * inside the executors). Same two-level quarantine discipline:
    * a file whose container is unreadable OR whose embedded writer
    * schema is missing a declared column lands WHOLE in the file
    * quarantine (path, reason, bytes) — Avro schemas are per-file, so
    * schema drift is a file-level fact, not a row-level one; clean
    * rows come back under the enforced Spark schema (long/int/string/
    * double/boolean envelope), tagged with their source shard. A
    * record whose field value doesn't fit the declared type (a union
    * carrying the wrong branch) is quarantined as a raw rendered row.
    *
    * Scale shape: Avro containers ARE splittable, but the audited
    * file-level schema check wants whole-file custody — same
    * binaryFile task-packing and one-decoded-shard memory bound as
    * G28; at 100 TB ingest shards are block-sized by the producer.
    */
  /** The container's 16-byte sync marker, from a hand parse of the
    * Avro header (magic, zigzag-varint metadata map, sync). Needed
    * because `DataFileStream.hasNext` SWALLOWS a truncated tail as
    * end-of-stream (streaming semantics) — every well-formed container
    * ends each block with the sync, so `file.takeRight(16) == sync` is
    * the integrity check that turns silent truncation into a
    * quarantined file. None = not a parseable container header.
    */
  private def avroSyncMarker(b: Array[Byte]): Option[Array[Byte]] = {
    if (b.length < 20 || b(0) != 'O' || b(1) != 'b' || b(2) != 'j' || b(3) != 1)
      return None
    var pos = 4
    def readLong(): Long = {
      var shift = 0; var acc = 0L; var bb = 0
      do {
        if (pos >= b.length) throw new java.io.EOFException("varint past end")
        bb = b(pos) & 0xff; pos += 1
        acc |= (bb & 0x7fL) << shift; shift += 7
      } while ((bb & 0x80) != 0)
      (acc >>> 1) ^ -(acc & 1L)
    }
    try {
      var count = readLong()
      while (count != 0) {
        if (count < 0) { readLong(); count = -count } // block byte size form
        var i = 0L
        while (i < count) {
          val kl = readLong(); pos += kl.toInt
          val vl = readLong(); pos += vl.toInt
          if (pos > b.length) throw new java.io.EOFException("meta past end")
          i += 1
        }
        count = readLong()
      }
      if (pos + 16 > b.length) None
      else Some(java.util.Arrays.copyOfRange(b, pos, pos + 16))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  def readAvroIngest(spark: org.apache.spark.sql.SparkSession,
      path: String, schema: org.apache.spark.sql.types.StructType):
      AuditedIngest = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val fields = schema.fields.map(_.name)
    val decoded = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val syncOk = avroSyncMarker(bytes) match {
          case Some(sync) => bytes.length >= 16 &&
            java.util.Arrays.equals(
              java.util.Arrays.copyOfRange(bytes, bytes.length - 16, bytes.length), sync)
          case None => false
        }
        if (!syncOk)
          Seq((p, null: Seq[String],
            "truncated_or_malformed_container: trailing sync marker absent",
            bytes.length.toLong))
        else try {
          val reader = new org.apache.avro.file.DataFileReader(
            new org.apache.avro.file.SeekableByteArrayInput(bytes),
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord]())
          try {
            val writerFields = reader.getSchema.getFields
            val have = new scala.collection.mutable.HashSet[String]
            writerFields.forEach(f => { have += f.name(); () })
            val missing = fields.filterNot(have)
            if (missing.nonEmpty)
              Seq((p, null: Seq[String], s"schema_mismatch: missing ${missing.mkString(",")}",
                bytes.length.toLong))
            else {
              val rows = Seq.newBuilder[(String, Seq[String], String, Long)]
              while (reader.hasNext) {
                val rec = reader.next()
                // render each declared field to a STRING cell; the typed
                // cast happens in one Spark projection below so a
                // wrong-branch value degrades into the row quarantine
                rows += ((p,
                  fields.map(n => Option(rec.get(n)).map(_.toString).orNull).toSeq,
                  null, bytes.length.toLong))
              }
              rows.result()
            }
          } finally reader.close()
        } catch {
          // NonFatal, not just IOException: a truncated block surfaces
          // as AvroRuntimeException from next(), and the whole file
          // must quarantine (the rows buffered before the throw are
          // discarded — all-or-nothing per container)
          case scala.util.control.NonFatal(e) =>
            Seq((p, null: Seq[String],
              e.getClass.getSimpleName + ": " + e.getMessage, bytes.length.toLong))
        }
      }
      .toDF("src_file", "cells", "file_error", "n_bytes")
      // same single-decode guarantee as readJsonLinesGzIngest: all
      // three outputs share one cached decode of the container files
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val badFiles = decoded.filter(col("file_error").isNotNull)
      .select(col("src_file"), col("file_error"), col("n_bytes"))
    val rows = decoded.filter(col("file_error").isNull)
    // try_cast semantics: a NULL after cast of a non-NULL cell = the
    // value didn't fit the declared type → row quarantine
    val castAll = rows.select(col("src_file") +: col("cells") +:
      schema.fields.zipWithIndex.map { case (f, i) =>
        expr(s"try_cast(element_at(cells, ${i + 1}) AS ${f.dataType.sql})").as(f.name)
      }: _*)
    val badRow = schema.fields.zipWithIndex
      .map { case (f, i) =>
        element_at(col("cells"), i + 1).isNotNull && col(f.name).isNull }
      .reduce(_ || _)
    AuditedIngest(
      castAll.filter(!badRow).select(col("src_file") +: schema.fieldNames.map(col): _*),
      castAll.filter(badRow)
        .select(col("src_file"), concat_ws("|", col("cells")).as("raw_row")),
      badFiles, decoded)
  }

  /** G35: WARC(.gz) export — documents as WARC 1.0 response records,
    * each record its own gzip member (the spec's record-at-time
    * compression, what Common Crawl ships), `shards` files written
    * from the executors (no driver funnel). The write half exists so
    * the read half has an end-to-end round-trip law (SinksSpec) — and
    * because a curation pipeline that READS crawl archives eventually
    * needs to WRITE filtered re-archives in the same interchange
    * format.
    */
  def writeWarcGz(docs: DataFrame, path: String, shards: Int = 4): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(conf.value).mkdirs(new org.apache.hadoop.fs.Path(path))
    docs.select(col("doc_id"), col("text")).repartition(shards)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        // an empty partition writes NO file: a 0-byte .warc.gz is not a
        // valid gzip stream and would quarantine on read
        if (rows.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf.value)
          val out = fs.create(
            new org.apache.hadoop.fs.Path(path, f"part-$pid%05d.warc.gz"), true)
          try rows.foreach { r =>
            val id = r.getLong(0)
            out.write(Warc.gzipMember(Warc.responseRecord(
              s"urn:graft:doc:$id", s"https://example.org/doc/$id",
              Option(r.getString(1)).getOrElse(""))))
          } finally out.close()
        }
      }
  }

  /** G36: audited WARC(.gz) ingestion — the shape crawled corpora
    * actually arrive in, with THREE custody levels: an undecodable
    * FILE (truncated/bit-rotted gzip member — the member walk throws
    * mid-stream) lands whole in the file quarantine; a decodable
    * file's malformed RECORDS (bad version line, unparseable headers,
    * missing/oversized Content-Length, missing terminator) land raw in
    * the record quarantine while healthy neighbors survive (the
    * [[Warc.scan]] resync — one rotten record must not cost a 1 GB
    * shard); healthy records come back as typed rows, shard-tagged.
    *
    * Scale shape: gzip members are the spec's split grain but Spark's
    * binaryFile reads file-at-a-time — the right custody grain for
    * the all-or-nothing member check (G28's argument); per-task
    * memory bounds at one decompressed shard. Decoded relation
    * persisted once for the three-output fan-out.
    */
  def readWarcGzIngest(spark: org.apache.spark.sql.SparkSession,
      path: String): AuditedIngest = {
    import spark.implicits._
    val decoded = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        try {
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val sc = Warc.scan(try in.readAllBytes() finally in.close())
          sc.records.map(r => (p, r.warcType, r.recordId, r.targetUri,
            r.contentLength, r.nHeaders,
            new String(r.payload, java.nio.charset.StandardCharsets.UTF_8),
            null: String, null: String, bytes.length.toLong)) ++
            sc.quarantined.map(q => (p, null: String, null: String,
              null: String, -1L, -1, null: String, q, null: String,
              bytes.length.toLong))
        } catch {
          case e: java.io.IOException =>
            Seq((p, null: String, null: String, null: String, -1L, -1,
              null: String, null: String,
              e.getClass.getSimpleName + ": " + e.getMessage,
              bytes.length.toLong))
        }
      }
      .toDF("src_file", "warc_type", "record_id", "target_uri",
        "content_length", "n_headers", "payload", "raw_snippet",
        "file_error", "n_bytes")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val badFiles = decoded.filter(col("file_error").isNotNull)
      .select(col("src_file"), col("file_error"), col("n_bytes"))
    val badRecords = decoded.filter(
      col("file_error").isNull && col("raw_snippet").isNotNull)
      .select(col("src_file"), col("raw_snippet"))
    val clean = decoded.filter(
      col("file_error").isNull && col("raw_snippet").isNull)
      .select(col("src_file"), col("warc_type"), col("record_id"),
        col("target_uri"), col("content_length"), col("n_headers"),
        col("payload"))
    AuditedIngest(clean, badRecords, badFiles, decoded)
  }

  /** G19: audited CSV ingestion — G16's enforced-schema + quarantine
    * discipline for the OTHER format corpora and metadata tables
    * arrive in. Same reasons: no inference pass at 100 TB (drift fails
    * loudly), malformed rows kept RAW for replay. from_csv (not the
    * csv reader) so the raw line stays available on the same row —
    * the csv DataSource's corrupt-record column drops the original
    * line's untokenized form on multi-column rows it can't parse.
    */
  def readCsvAudited(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      delimiter: String = ","): (DataFrame, DataFrame) =
    splitCorrupt(spark.read.text(path).select(col("value").as("raw_line")), Nil, schema,
      from_csv, Map("sep" -> delimiter))

  /** Small-files compaction — streaming sinks and frequent batches
    * leave thousands of tiny files; at 100 TB the NameNode/listing cost
    * and per-file open overhead dominate reads. Rewrites to
    * `targetFiles` right-sized files at a new path (never in place).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetFiles: Int): Unit =
    spark.read.parquet(inPath)
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** Range-clustered layout: repartitionByRange + in-file sort on the
    * clustering keys → parquet row-group min/max stats become selective
    * for range predicates on those keys (the poor man's Z-order; at
    * 100 TB this is what makes time-range scans skip most files).
    */
  def writeClustered(df: DataFrame, path: String, files: Int, cols: String*): Unit = {
    val cs = cols.map(col)
    df.repartitionByRange(files, cs: _*)
      .sortWithinPartitions(cs: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** IVF storage layout (SURVEY §5 "IVF ANN partitioning" made real):
    * embeddings written as `cell=N/` parquet partitions keyed by the
    * deterministic quantizer cell (operators/Similarity.withCell).
    * A query probing nProbe cells reads nProbe/nCells of the data —
    * the pruning happens at PLANNING time (PartitionFilters), before
    * a single byte of the non-probed cells is opened. This is the
    * layout that turns D4/D9's "probe a few cells" from a filter into
    * actual I/O savings at 100 TB.
    */
  def writeEmbeddingsByCell(t: Tables, path: String, nCells: Int = 8): Unit =
    writeEmbeddingsByCellWith(t, path,
      graft.operators.Similarity.trainedCenters(t, nCells))

  /** G12 off a persisted quantizer artifact (see [[writeQuantizer]]):
    * the cell layout and every query that probes it must agree on the
    * center set, which they only reliably do when both READ the same
    * saved artifact instead of re-deriving it.
    */
  def writeEmbeddingsByCell(t: Tables, path: String, quantizerPath: String): Unit =
    writeEmbeddingsByCellWith(t, path, readQuantizer(t.spark, quantizerPath))

  private def writeEmbeddingsByCellWith(t: Tables, path: String,
      centers: Array[(Int, Seq[Double], Double)]): Unit =
    graft.operators.Similarity
      .withCell(graft.operators.Similarity.withNorm(t.embeddings), centers)
      .select(col("vec_id"), col("embedding"), col("label"), col("cell"))
      .repartition(col("cell")) // one task-group per cell dir, no tiny files
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(path)

  /** G15: quantizer persistence — the D7 center set (cell id, center
    * vector, precomputed ‖c‖²) as a tiny parquet artifact. This makes
    * "trained offline, broadcast as literals" real: train/derive ONCE,
    * write; every consumer (D7 assignment, D8 encode, D9 ADC, the G12
    * cell layout) loads the same artifact instead of re-deriving the
    * centers per query — at 100 TB the quantizer is infrastructure,
    * versioned and shared, not a query-local computation. PQ
    * sub-codebooks are subvector slices of these centers, so one
    * artifact covers the whole family.
    */
  def writeQuantizer(t: Tables, path: String, nCenters: Int = 8,
      rounds: Int = graft.operators.Similarity.TrainRounds): Unit = {
    val spark = t.spark
    import spark.implicits._
    // Lloyd-TRAINED centers (r10) — rounds = 0 recovers the raw seed
    graft.operators.Similarity.trainedCenters(t, nCenters, rounds).toSeq
      .toDF("cell", "center", "c2")
      .coalesce(1) // nCenters rows — one file
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Load a [[writeQuantizer]] artifact. Driver-side collect bounded
    * by nCenters rows (the artifact IS the broadcast-as-literals
    * input; it never holds corpus-scale data). The schema is declared,
    * so a load is one collect job with no schema-inference job first.
    */
  def readQuantizer(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Seq[Double], Double)] =
    spark.read.schema("cell INT, center ARRAY<DOUBLE>, c2 DOUBLE").parquet(path)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)

  /** Persist the SQ8 per-dimension (min, max) bounds (Similarity
    * §2.D12) — the scalar-quantization sibling of [[writeQuantizer]]:
    * trained once over a reference corpus, loaded by every encoder so
    * codes stay comparable across corpus versions. `dim` rows.
    */
  def writeSq8Bounds(t: Tables, path: String): Unit = {
    val spark = t.spark
    import spark.implicits._
    val (mns, mxs) = graft.operators.Similarity.sq8Bounds(t)
    mns.indices.map(d => (d, mns(d), mxs(d))).toDF("d", "mn", "mx")
      .coalesce(1) // dim rows — one file
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Load a [[writeSq8Bounds]] artifact. Driver-side collect bounded
    * by dim rows (the artifact IS the broadcast-as-literals input).
    */
  def readSq8Bounds(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[Double], Seq[Double]) = {
    val rows = spark.read.parquet(path)
      .select(col("d"), col("mn"), col("mx"))
      .collect().sortBy(_.getInt(0))
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** G43: Matryoshka PREFIX-SLICED embedding layout — the storage
    * counterpart of the D55/D56/D57 serving arc (the r14 "byte cut is
    * unrealized" weak made real). ONE parquet relation with TWO column
    * groups: `v_prefix` (the first p dimensions, double) and `v_tail`
    * (dimensions p+1..d), range-clustered and sorted by vec_id.
    * Parquet is columnar: the retrieval stage projects ONLY
    * (vec_id, v_prefix), so column chunks of the tail group are never
    * read — ~p/d of the vector bytes at the I/O layer, not a multiply
    * count — and the bounded rerank fetches full vectors through a
    * planned vec_id pushdown that the sorted layout's row-group stats
    * prune. The r15 measurement (SURVEY G43) read both from the file
    * footers and the executed plans; SinksSpec pins concat(v_prefix, v_tail) ≡
    * the in-query withNorm vector bit-for-bit.
    */
  def writeEmbeddingsPrefixSliced(t: Tables, path: String, p: Int = 16,
      files: Int = 4): Unit = {
    val spark = t.spark
    import spark.implicits._
    val dim = t.embeddings.agg(max(size(col("embedding")))).head.getInt(0)
    require(p > 0 && p < dim, s"prefix p=$p must split the $dim-dim vectors")
    t.embeddings
      .select(col("vec_id"),
        // array-level Cast: codegen'd, value-identical to the
        // per-element transform (see Similarity.withNorm)
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        slice(col("v"), 1, p).as("v_prefix"),
        expr(s"slice(v, ${p + 1}, size(v) - $p)").as("v_tail"))
      .repartitionByRange(files, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/sliced")
    Seq((p, dim)).toDF("p", "dim")
      .coalesce(1) // one row — the layout's contract
      .write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
  }

  /** (p, dim) of a [[writeEmbeddingsPrefixSliced]] artifact — every
    * consumer slices with the LAYOUT's p, never a caller guess. */
  def readPrefixSlicedMeta(spark: org.apache.spark.sql.SparkSession,
      rawPath: String): (Int, Int) = {
    val path = resolveIndexRoot(spark, rawPath)
    val r = spark.read.parquet(s"$path/meta")
      .select(col("p"), col("dim")).head
    (r.getInt(0), r.getInt(1))
  }

  /** The retrieval-side relation (vec_id, v = the stored prefix, n2):
    * projects NOTHING from the tail column group, so the scan's
    * ReadSchema — and its bytes — stay ∝ p/d. */
  private[graft] def prefixSlicedRetrievalRel(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    spark.read.parquet(s"$path/sliced")
      .select(col("vec_id"), col("v_prefix").as("v"))
      .withColumn("n2",
        graft.functions.VectorExprs.dot(col("v"), col("v")))
  }

  /** Full vectors (concat of the two column groups — bit-equal to the
    * in-query withNorm cast by construction) for rows matching a
    * PLANNED vec_id predicate: the pushdown reaches the parquet scan,
    * so the sorted layout's row-group stats bound the tail bytes to
    * the matched neighborhood instead of the corpus. */
  private[graft] def prefixSlicedFullRel(
      spark: org.apache.spark.sql.SparkSession, path: String,
      pred: org.apache.spark.sql.Column): DataFrame = {
    spark.read.parquet(s"$path/sliced")
      .filter(pred)
      .select(col("vec_id"),
        concat(col("v_prefix"), col("v_tail")).as("v"))
      .withColumn("n2",
        graft.functions.VectorExprs.dot(col("v"), col("v")))
  }

  /** The shared full-dimension rerank tail over a COLLECTED pool
    * (bounded by nQueries·kPool rows at plan time — the G26
    * planning-time-pruning discipline: materializing the pool ids is
    * what turns the full-vector fetch into a pushed-down point read
    * instead of a corpus scan). Query vectors arrive as a bounded
    * (q_id, qv, qn2) relation — fetched from the artifact by the
    * batch entry points, carried by the micro-batch for the stream. */
  private def prefixSlicedRerank(spark: org.apache.spark.sql.SparkSession,
      path: String, pool: Array[(Long, Long)], q: DataFrame,
      k: Int): DataFrame = {
    val sim = graft.operators.Similarity
    import spark.implicits._
    val poolDf = pool.toSeq.toDF("q_id", "vec_id")
    val ids = pool.map(_._2).distinct.toSeq
    val full = prefixSlicedFullRel(spark, path,
      col("vec_id").isin(ids: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    poolDf.join(full, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        sim.cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Serve D56 (prefix retrieve + full-dim rerank) off the sliced
    * artifact ALONE — result ≡ the in-query
    * [[graft.operators.Similarity.annPrefixRerank]] bit-for-bit
    * (SinksSpec law): the stored prefix IS slice(v, 1, p) of the same
    * double cast, and the two-stage top-kPool is partition-
    * independent. Retrieval reads only the prefix column group; full
    * vectors are touched for the ≤ nQueries·kPool pool ∪ the query
    * rows, through planned id pushdowns. G41-versioned roots resolve
    * on entry.
    */
  def searchPrefixSliced(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, nQueries: Int = 8, k: Int = 5,
      kPool: Int = 20): DataFrame = {
    val path = resolveIndexRoot(spark, rawPath)
    val q = prefixSlicedFullRel(spark, path, col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    searchPrefixSlicedQRel(spark, path, q, k, kPool)
  }

  /** [[searchPrefixSliced]] for an ARBITRARY bounded (q_id, qv, qn2)
    * full-dimension query relation — the online prefix server routes
    * each micro-batch through this; the batch entry point above is the
    * nQueries-prefix special case (its query vectors fetched from the
    * artifact itself), so stream ≡ batch structurally. The retrieval
    * stage slices the QUERY side in flight (bounded rows) while the
    * corpus side reads only the stored prefix column group.
    */
  private[graft] def searchPrefixSlicedQRel(
      spark: org.apache.spark.sql.SparkSession, rawPath: String,
      q: DataFrame, k: Int = 5, kPool: Int = 20): DataFrame = {
    val path = resolveIndexRoot(spark, rawPath)
    val sim = graft.operators.Similarity
    val (p, _) = readPrefixSlicedMeta(spark, path)
    val eP = prefixSlicedRetrievalRel(spark, path)
    val pool = sim.prefixPool(eP, q, p, kPool)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    prefixSlicedRerank(spark, path, pool, q, k)
  }

  /** Serve D57 (prefix-space IVF retrieve + full-dim rerank) off the
    * sliced artifact alone — ≡ the in-query
    * [[graft.operators.Similarity.annPrefixIvfRerank]] bit-for-bit:
    * the coarse quantizer Lloyd-trains on the STORED prefix relation
    * (same values → same deterministic seed → same centers), probes
    * and candidate scoring stay in the prefix column group, and the
    * bounded pool reranks in full dimension via id pushdown.
    */
  def searchPrefixSlicedIvf(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, nQueries: Int = 8, k: Int = 5, nCells: Int = 16,
      nProbe: Int = 4, kPool: Int = 20): DataFrame = {
    val path = resolveIndexRoot(spark, rawPath)
    val sim = graft.operators.Similarity
    val eP = prefixSlicedRetrievalRel(spark, path)
    val pool = sim.prefixIvfPool(eP, nQueries, nCells, nProbe, kPool)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val q = prefixSlicedFullRel(spark, path, col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    prefixSlicedRerank(spark, path, pool, q, k)
  }

  /** A fresh sliced artifact of the corpus, written on every call —
    * what the `ann_prefix_*_sliced` registry keys search, so their time
    * includes the build. The temp dir is registered with the Hadoop
    * `FileSystem.deleteOnExit`, so nothing outlives the session's
    * FileSystem (closed at JVM shutdown at the latest).
    */
  private[graft] def prefixSlicedFor(t: Tables, p: Int = 16): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_prefix_sliced")
    val path = new org.apache.hadoop.fs.Path(dir.toUri)
    path.getFileSystem(t.spark.sparkContext.hadoopConfiguration).deleteOnExit(path)
    writeEmbeddingsPrefixSliced(t, dir.toString, p)
    dir.toString
  }

  /** Bits per dimension of the z-value (16 → 32-bit z, plenty for
    * file-level clustering).
    */
  private val ZBits = 16

  /** Morton interleave of two ZBits-bucket ids: bit i of b1 → bit 2i,
    * bit i of b2 → bit 2i+1. Statically unrolled bitwise Columns —
    * whole-stage codegen'd, no UDF.
    */
  private def interleave(b1: org.apache.spark.sql.Column, b2: org.apache.spark.sql.Column) =
    (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(b1, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b2, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-ordered (Morton) layout over two numeric keys — the §5b knob
    * for 2-D predicate skipping, e.g. the as-of join's right side on
    * (key, time). Each key is normalized to ZBits equi-width buckets
    * between its global min/max (one tiny aggregate, broadcast back —
    * no global sort, no driver collect of data), the bucket bits are
    * interleaved into a z-value, and files are range-partitioned +
    * sorted by it. Every file then covers a bounded RECTANGLE in
    * (c1, c2) space, so parquet row-group min/max stats prune on BOTH
    * keys — writeClustered's lexicographic sort only prunes on the
    * leading key once the second key's range saturates per file.
    */
  def writeZOrdered(df: DataFrame, path: String, files: Int, c1: String, c2: String): Unit = {
    val buckets = 1L << ZBits
    def norm(c: String) = {
      val (lo, hi) = (col(s"${c}_min").cast("double"), col(s"${c}_max").cast("double"))
      val v = col(c).cast("double")
      // degenerate (constant) dimension → bucket 0
      when(hi === lo, lit(0L))
        .otherwise(least(lit(buckets - 1),
          floor((v - lo) / (hi - lo) * buckets).cast("long")))
    }
    val bounds = df.agg(
      min(col(c1)).as(s"${c1}_min"), max(col(c1)).as(s"${c1}_max"),
      min(col(c2)).as(s"${c2}_min"), max(col(c2)).as(s"${c2}_max"))
    df.crossJoin(broadcast(bounds))
      .withColumn("zval", interleave(norm(c1), norm(c2)))
      .repartitionByRange(files, col("zval"))
      .sortWithinPartitions(col("zval"))
      .drop("zval", s"${c1}_min", s"${c1}_max", s"${c2}_min", s"${c2}_max")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** G18: dataset manifest — the per-file operational ledger of a
    * written dataset (file path, partition values, bytes, rows) as a
    * QUERYABLE relation plus a persisted `_graft_manifest` parquet
    * next to the data. At 100 TB this is what replaces `ls -R`: small-
    * file audits (compaction triggers), partition row-count drift
    * between loads, and byte-level capacity planning all read the
    * manifest, never the data. Row counts come from parquet FOOTERS
    * (`count(*)` per file is metadata-only — Spark's aggregate
    * pushdown never touches row data); file sizes from the driver-side
    * file index (names + lengths only, no data I/O).
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, dataPath: String): DataFrame = {
    // both sides normalized to a bare absolute path: input_file_name()
    // yields file:///p, the Hadoop listing file:/p — scheme-stripped
    // they join; on object stores both collapse to the same key path
    val rowsPerFile = spark.read.parquet(dataPath)
      .select(regexp_replace(input_file_name(), "^[a-z0-9+.-]+:/+", "/").as("file"))
      .groupBy(col("file")).agg(count(lit(1)).as("rows"))
    val base = new org.apache.hadoop.fs.Path(dataPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val s = it.next()
      val p = s.getPath.toString.replaceAll("^[a-z0-9+.-]+:/+", "/")
      if (p.endsWith(".parquet") && !p.contains("_graft_manifest"))
        files += ((p, s.getLen))
    }
    import spark.implicits._
    val sizes = files.toSeq.toDF("file", "bytes")
    val manifest = sizes.join(rowsPerFile, "file")
      .withColumn("partition",
        regexp_extract(col("file"), "/((?:[^/=]+=[^/]+/)*)[^/]+$", 1))
      .select(col("file"), col("partition"), col("bytes"), col("rows"))
      .orderBy(col("file"))
    manifest.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dataPath/_graft_manifest")
    manifest
  }

  /** Reads a previously written manifest (no data files touched). */
  def readManifest(spark: org.apache.spark.sql.SparkSession, dataPath: String): DataFrame =
    spark.read.parquet(s"$dataPath/_graft_manifest")

  /** G22: persisted distinct-count sketches — the B47 per-group KMV
    * relation `(group: string, kept: array<bigint>)` as a parquet
    * artifact (#groups × ≤k longs — the writeQuantizer family:
    * bounded, reloadable, shareable across runs). The point is
    * [[mergeKmvSketches]]: yesterday's shard sketches merge with
    * today's into the combined-corpus sketch WITHOUT touching either
    * corpus again — the cross-run cardinality ledger next to E50's
    * mergeable corpus moments.
    */
  def writeKmvSketches(sketches: DataFrame, path: String): Unit =
    sketches.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  def readKmvSketches(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** Merge two sketch relations per group: the k smallest distinct
    * hashes of the union — semantically identical to KmvSketch.merge,
    * expressed in NATIVE array functions (sort ∘ distinct ∘ concat ∘
    * slice; no UDF), so merging N runs is a full-outer-join chain of
    * #groups-row relations.
    */
  def mergeKmvSketches(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val empty = array().cast("array<bigint>")
    a.select(col("event_type"), col("kept").as("ka"))
      .join(b.select(col("event_type"), col("kept").as("kb")),
        Seq("event_type"), "full_outer")
      .select(col("event_type"),
        slice(array_sort(array_distinct(concat(
          coalesce(col("ka"), empty), coalesce(col("kb"), empty)))), 1, k).as("kept"))
  }

  /** G23: content-addressed CHUNK STORE — the storage layout E55's
    * content-defined chunking exists to feed (the rsync/restic/LBFS
    * shape): `path/chunks/` holds each DISTINCT chunk once (keyed by
    * content hash, one row per unique chunk), `path/manifest/` holds
    * the per-document recipe (doc_id, chunk_idx, chunk_hash). Dup mass
    * is stored ONCE; a document reconstructs by joining its manifest
    * to the store and concatenating in chunk order — the round-trip
    * law SinksSpec pins (reassembled text ≡ original, every doc).
    *
    * Scale shape: dedup of the chunk table is ONE chunk-hash-keyed
    * min-aggregate (the C1 shuffle class); the manifest is a narrow
    * projection of the E55 relation; both sides write clustered by
    * their join keys so reconstruction co-locates.
    */
  def writeChunkStore(t: Tables, path: String,
      window: Int = 16, modDiv: Int = 64): Unit = {
    // chunk payloads are BYTES, not strings: byte-level CDC may cut
    // inside a multi-byte character, so only the byte slice is a valid
    // storage unit — reassembly concatenates bytes BEFORE decoding
    val chunks = graft.operators.TextOps.docCdcChunks(t, window, modDiv)
      .join(t.documents.select(col("doc_id"), col("text").cast("binary").as("bt")), "doc_id")
      .withColumn("chunk_bytes",
        expr("substring(bt, CAST(start_pos AS INT), CAST(chunk_len AS INT))"))
    chunks.groupBy(col("chunk_hash"))
      .agg(first(col("chunk_bytes")).as("chunk_bytes"),
        count(lit(1)).as("n_refs"))
      .repartition(4, col("chunk_hash"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/chunks")
    chunks.select(col("doc_id"), col("chunk_idx"), col("chunk_hash"))
      .repartition(4, col("chunk_hash"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/manifest")
    writeChunkStoreVersion(t.spark, path)
  }

  /** On-disk format version of the chunk store (2 = binary
    * `chunk_bytes` payloads, r11's byte-level CDC). Read/append check
    * the marker so an r10 store (string payloads, no marker) fails
    * LOUDLY instead of silently matching nothing on append or erroring
    * mid-read on a renamed column.
    */
  private val ChunkStoreVersion = 2

  private def writeChunkStoreVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    Seq(ChunkStoreVersion).toDF("format_version").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_format")
  }

  private def requireChunkStoreVersion(spark: org.apache.spark.sql.SparkSession,
      path: String, adoptMarker: Boolean = false): Unit = {
    val fp = new org.apache.hadoop.fs.Path(s"$path/_format")
    if (fp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(fp)) {
      val v = spark.read.parquet(s"$path/_format")
        .select(col("format_version")).head().getInt(0)
      require(v == ChunkStoreVersion,
        s"chunk store at $path is format v$v, need v$ChunkStoreVersion — " +
          "rebuild with writeChunkStore")
    } else {
      // Marker missing: sniff before condemning. A store written by the
      // release that introduced the binary layout but predates the
      // marker already has chunk_bytes: binary — serving it beats
      // forcing a full corpus re-chunk. Only an ACTUAL layout mismatch
      // (string payloads = pre-v2) fails. The marker is stamped ONLY
      // from write/append paths (adoptMarker): a read must stay
      // side-effect free (read-only stores exist), and a stamp from a
      // read would mis-label any FUTURE layout that also carries
      // binary chunk_bytes but lost its marker.
      val bt = scala.util.Try(spark.read.parquet(s"$path/chunks").schema)
        .toOption.flatMap(_.fields.find(_.name == "chunk_bytes").map(_.dataType))
      require(bt.contains(org.apache.spark.sql.types.BinaryType),
        s"chunk store at $path is pre-v$ChunkStoreVersion (no _format marker and " +
          bt.fold("no readable chunk_bytes column")(d => s"chunk_bytes is $d") +
          " — rebuild with writeChunkStore)")
      if (adoptMarker) writeChunkStoreVersion(spark, path)
    }
  }

  /** G31: INCREMENTAL chunk-store append (G30's sibling for the CDC
    * arc — a crawl delivers documents daily; re-chunking the world per
    * delivery defeats the point of a dedup store): the new corpus is
    * CDC-chunked, chunks whose content hash the store already holds
    * are dropped by an anti-join (stored once stays stored once), only
    * genuinely new chunk payloads and the new docs' manifest rows are
    * appended. `n_refs` on a chunk row is its ref count AT WRITE TIME
    * (append does not rewrite base rows — the live ref count is a
    * manifest aggregate when needed).
    *
    * Scale shape: one CDC pass over ONLY the new docs + a hash-keyed
    * anti-join against the store's hash column (narrow projection of
    * the chunk relation; the C9b Bloom swap applies if the store's
    * hash set outgrows a shuffle) + partitioned appends; base chunk
    * payloads are never read. The store self-read-then-append is safe
    * because the existing-files listing is resolved when the append
    * job plans, before any new file lands.
    */
  def appendToChunkStore(t: Tables, rawPath: String,
      window: Int = 16, modDiv: Int = 64): Unit = {
    val spark = t.spark
    val path = resolveIndexRoot(spark, rawPath)
    requireChunkStoreVersion(spark, path, adoptMarker = true)
    // Idempotence under re-delivery: a doc_id already in the manifest
    // is DROPPED whole (re-appending it would duplicate its manifest
    // rows and reconstruct the text with every chunk doubled). The
    // anti-join is on the manifest's narrow doc_id projection — chunk
    // payloads are never read.
    val existingDocs = spark.read.parquet(s"$path/manifest")
      .select(col("doc_id")).distinct()
    val newDocs = t.documents
      .join(existingDocs, Seq("doc_id"), "left_anti")
    val tNew = t.copy(docsOverride = Some(newDocs))
    val chunks = graft.operators.TextOps.docCdcChunks(tNew, window, modDiv)
      .join(newDocs.select(col("doc_id"), col("text").cast("binary").as("bt")), "doc_id")
      .withColumn("chunk_bytes",
        expr("substring(bt, CAST(start_pos AS INT), CAST(chunk_len AS INT))"))
    val existing = spark.read.parquet(s"$path/chunks").select(col("chunk_hash"))
    chunks.groupBy(col("chunk_hash"))
      .agg(first(col("chunk_bytes")).as("chunk_bytes"),
        count(lit(1)).as("n_refs"))
      .join(existing, Seq("chunk_hash"), "left_anti")
      .repartition(4, col("chunk_hash"))
      .write.mode(SaveMode.Append).parquet(s"$path/chunks")
    chunks.select(col("doc_id"), col("chunk_idx"), col("chunk_hash"))
      .repartition(4, col("chunk_hash"))
      .write.mode(SaveMode.Append).parquet(s"$path/manifest")
    // Tombstone custody under at-least-once delivery (the takedown
    // framing of G32/G33): a RE-DELIVERED doc — one the idempotence
    // anti-join dropped because its manifest rows already exist — must
    // NOT have its tombstone cleared, or replaying any historical
    // ingest batch silently resurrects deleted documents. Only docs
    // that genuinely APPENDED this delivery (absent from the manifest:
    // new content, or a deleted-then-compacted-away doc intentionally
    // re-ingested) serve again. An operator un-deleting a still-stored
    // doc uses the explicit [[restoreToChunkStore]]. The tombstone
    // relation is a bounded delete list — the collect is small by
    // construction; rewrite goes through a driver-local materialization
    // because Spark cannot overwrite a path it is lazily reading in
    // the same action. (`newDocs` still reads the PRE-append manifest:
    // its parquet file listing resolved when the append planned.)
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/doc_tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tombPath)) {
      val appended = newDocs.select(col("doc_id")).distinct()
      val kept = spark.read.parquet(s"$path/doc_tombstones")
        .select(col("doc_id")).distinct()
        .join(appended, Seq("doc_id"), "left_anti")
        .collect().map(_.getLong(0))
      import spark.implicits._
      kept.toSeq.toDF("doc_id").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/doc_tombstones")
    }
  }

  /** Explicit RESTORE — the one operation allowed to clear a
    * tombstone for a doc the store still holds (an un-delete is a
    * custody decision, never a side effect of replaying an ingest
    * batch). No-op for ids that aren't tombstoned; driver-local
    * rewrite of the bounded delete list, like the append path.
    */
  def restoreToChunkStore(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, docIds: DataFrame): Unit = {
    val path = resolveIndexRoot(spark, rawPath)
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/doc_tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tombPath)) {
      val kept = spark.read.parquet(s"$path/doc_tombstones")
        .select(col("doc_id")).distinct()
        .join(docIds.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .collect().map(_.getLong(0))
      import spark.implicits._
      kept.toSeq.toDF("doc_id").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/doc_tombstones")
    }
  }

  /** G33: chunk-store document DELETE + GC compaction (the G32
    * pattern on the CDC artifact). Deletion is a doc_id TOMBSTONE
    * append — chunk payloads are SHARED across documents, so a
    * removal can never touch the chunk relation directly (another doc
    * may reference the same bytes); [[readChunkStore]] anti-joins the
    * tombstones so a deleted doc never reconstructs. The actual
    * byte reclamation is [[compactChunkStore]]: rewrite (to a NEW
    * path — never in place) keeping only live manifest rows and the
    * chunks they still reference — reference-counting GC as one
    * semi-join, no counts maintained. Takedown compliance note: bytes
    * unique to a deleted doc persist until compaction runs; the
    * tombstone only stops them being SERVED.
    */
  def deleteFromChunkStore(spark: org.apache.spark.sql.SparkSession,
      path: String, docIds: DataFrame): Unit =
    docIds.select(col("doc_id")).coalesce(1)
      .write.mode(SaveMode.Append)
      .parquet(s"${resolveIndexRoot(spark, path)}/doc_tombstones")

  def compactChunkStore(spark: org.apache.spark.sql.SparkSession,
      rawFrom: String, to: String): Unit = {
    val from = resolveIndexRoot(spark, rawFrom)
    requireChunkStoreVersion(spark, from)
    writeChunkStoreVersion(spark, to)
    val manifest = liveManifest(spark, from)
    manifest.repartition(4, col("chunk_hash"))
      .write.mode(SaveMode.Overwrite).parquet(s"$to/manifest")
    spark.read.parquet(s"$from/chunks")
      .join(manifest.select(col("chunk_hash")).distinct(), Seq("chunk_hash"),
        "left_semi") // GC: a chunk survives iff some live doc references it
      .repartition(4, col("chunk_hash"))
      .write.mode(SaveMode.Overwrite).parquet(s"$to/chunks")
  }

  private def liveManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val m = spark.read.parquet(s"$path/manifest")
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/doc_tombstones")
    if (tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tombPath))
      m.join(broadcast(spark.read.parquet(s"$path/doc_tombstones")
        .select(col("doc_id")).distinct()), Seq("doc_id"), "left_anti")
    else m
  }

  /** Reassemble documents from a G23 chunk store: manifest ⋈ chunks on
    * the content hash, byte chunks concatenated in recipe order, UTF-8
    * decoded only after the full byte sequence is back together.
    * Tombstoned docs (G33) never reconstruct. */
  def readChunkStore(spark: org.apache.spark.sql.SparkSession,
      rawPath: String): DataFrame = {
    val path = resolveIndexRoot(spark, rawPath)
    requireChunkStoreVersion(spark, path)
    val chunks = spark.read.parquet(s"$path/chunks")
      .select(col("chunk_hash"), col("chunk_bytes"))
    liveManifest(spark, path)
      .join(chunks, "chunk_hash")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("chunk_idx"), col("chunk_bytes"))).as("ps"))
      .select(col("doc_id"),
        expr("CAST(aggregate(transform(array_sort(ps), s -> s.chunk_bytes), " +
          "CAST('' AS BINARY), (acc, x) -> concat(acc, x)) AS STRING)").as("text"))
  }

  /** G38: persisted DEDUP-CLUSTER artifact + incremental lifecycle —
    * what G30–G33 gave the vector index and the chunk store, for the
    * dedup family (the r11 verdict's #5: C7/C15 clusters recompute
    * per run; a daily ingest must not re-pair the world). Layout:
    * `path/band_index` = every doc's MinHash band rows CARRYING its
    * gram set (the C8b artifact shape — band-keyed candidate
    * generation + exact verify with zero corpus access), `path/
    * clusters` = (doc_id, cluster) labels, `path/doc_tombstones` =
    * the G33 delete ledger.
    *
    * Lifecycle laws (SinksSpec): append(base, rest) ≡ one-shot over
    * the union (new docs probe the index for new-old candidates,
    * new-new pairs band-join among themselves, and CC runs over NEW
    * pairs ∪ the old clusters' star edges — connectivity-equal to the
    * full pair relation, so labels match the one-shot exactly, cluster
    * MERGES included); re-delivered doc_ids drop whole (idempotence);
    * tombstoned docs never serve; compaction ≡ one-shot over the
    * survivors (pairs re-derived from STORED gram sets — splits from
    * removed bridge docs heal; until compaction a tombstone only
    * stops the doc being SERVED, the chunk-store honesty note).
    *
    * Scale shape: append cost = band/verify work for the NEW docs
    * only (index side pre-bucketed on (band, band_val)) + one CC over
    * near-dup edges + a label relation (corpus-linear rows, never
    * pairs); base gram sets are read only where a band matches.
    */
  def writeDedupClusters(t: Tables, path: String, threshold: Double = 0.2,
      maxIter: Int = 20): Unit = {
    val dd = graft.operators.Dedup
    val idx = dd.bandIndexOf(t.documents)
    idx.repartition(4, col("band"), col("band_val"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/band_index")
    val stored = spark_read_index(t.spark, path)
    val pairs = dd.stableCheckpoint(pairsFromIndex(stored, stored,
      threshold, newVsNew = true))
    dd.clusterPairs(pairs, t.documents.select(col("doc_id")), maxIter,
        "write_dedup_clusters")
      .select(col("doc_id"), col("cluster"))
      .repartition(4, col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/clusters")
  }

  private def spark_read_index(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/band_index")

  /** Verified near-dup pairs between a probe side and an index side,
    * both in the band-index shape: band-bucket equi-join → exact
    * Jaccard on gram sets → threshold; `newVsNew = true` restricts to
    * da < db (self-join form), false takes all cross pairs (probe ×
    * base, disjoint id sets). Result distinct on the pair.
    */
  private def pairsFromIndex(probe: DataFrame, index: DataFrame,
      threshold: Double, newVsNew: Boolean): DataFrame = {
    val a = probe.select(col("db").as("da"), col("gsb").as("gsa"),
      col("nb").as("na"), col("band"), col("band_val"))
    val b = index.select(col("db"), col("gsb"), col("nb"),
      col("band").as("b2"), col("band_val").as("bv2"))
    val on = col("band") === col("b2") && col("band_val") === col("bv2") &&
      (if (newVsNew) col("da") < col("db") else col("da") =!= col("db"))
    a.join(b, on)
      .withColumn("c", call_function("graft_intersect_count", col("gsa"), col("gsb")))
      .withColumn("j", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("j") >= threshold)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .distinct()
  }

  def appendToDedupClusters(t: Tables, rawPath: String,
      threshold: Double = 0.2, maxIter: Int = 20): Unit = {
    val spark = t.spark
    val path = resolveIndexRoot(spark, rawPath)
    val dd = graft.operators.Dedup
    val existingIdx = spark_read_index(spark, path)
    val existingDocs = existingIdx.select(col("db").as("doc_id")).distinct()
    // idempotence under re-delivery (the chunk-store discipline)
    val newDocs = t.documents.join(existingDocs, Seq("doc_id"), "left_anti")
    val newIdx = dd.stableCheckpoint(dd.bandIndexOf(newDocs))
    val newPairs = pairsFromIndex(newIdx, existingIdx, threshold, newVsNew = false)
      .unionByName(pairsFromIndex(newIdx, newIdx, threshold, newVsNew = true))
      .distinct()
    // the old clusters' star edges carry exactly the base connectivity
    val oldEdges = spark.read.parquet(s"$path/clusters")
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("doc_a"), col("cluster").as("doc_b"))
    val universe = existingDocs.unionByName(newDocs.select(col("doc_id")))
    val clusters = dd.clusterPairs(
      dd.stableCheckpoint(newPairs.unionByName(oldEdges)), universe, maxIter,
      "append_dedup_clusters")
      .select(col("doc_id"), col("cluster"))
    // clusterPairs returns an EAGER checkpoint, so overwriting the
    // relation it read is safe here
    clusters.repartition(4, col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/clusters")
    newIdx.repartition(4, col("band"), col("band_val"))
      .write.mode(SaveMode.Append).parquet(s"$path/band_index")
  }

  /** Delete = doc_id tombstone append (the G32/G33 LSM discipline);
    * [[readDedupClusters]] anti-joins them. Until [[compactDedupClusters]]
    * runs, labels may still reference a deleted id and a removed
    * BRIDGE doc still holds its component together — the tombstone
    * stops the doc being SERVED, compaction heals the topology.
    */
  def deleteFromDedupClusters(spark: org.apache.spark.sql.SparkSession,
      path: String, docIds: DataFrame): Unit =
    docIds.select(col("doc_id")).coalesce(1)
      .write.mode(SaveMode.Append)
      .parquet(s"${resolveIndexRoot(spark, path)}/doc_tombstones")

  def readDedupClusters(spark: org.apache.spark.sql.SparkSession,
      rawPath: String): DataFrame = {
    val path = resolveIndexRoot(spark, rawPath)
    val c = spark.read.parquet(s"$path/clusters")
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/doc_tombstones")
    if (tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tombPath))
      c.join(broadcast(spark.read.parquet(s"$path/doc_tombstones")
        .select(col("doc_id")).distinct()), Seq("doc_id"), "left_anti")
    else c
  }

  /** GC/compaction: rewrite (to a NEW path) the surviving band index
    * and RE-CLUSTER the survivors from their stored gram sets — no
    * corpus access; bridge-doc splits heal here.
    */
  def compactDedupClusters(spark: org.apache.spark.sql.SparkSession,
      rawFrom: String, to: String, threshold: Double = 0.2,
      maxIter: Int = 20): Unit = {
    val from = resolveIndexRoot(spark, rawFrom)
    val dd = graft.operators.Dedup
    val tombPath = new org.apache.hadoop.fs.Path(s"$from/doc_tombstones")
    val idxAll = spark_read_index(spark, from)
    val idx =
      if (tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tombPath))
        idxAll.join(broadcast(spark.read.parquet(s"$from/doc_tombstones")
          .select(col("doc_id").as("db")).distinct()), Seq("db"), "left_anti")
      else idxAll
    idx.repartition(4, col("band"), col("band_val"))
      .write.mode(SaveMode.Overwrite).parquet(s"$to/band_index")
    val stored = spark_read_index(spark, to)
    val pairs = dd.stableCheckpoint(pairsFromIndex(stored, stored,
      threshold, newVsNew = true))
    dd.clusterPairs(pairs,
        stored.select(col("db").as("doc_id")).distinct(), maxIter,
        "compact_dedup_clusters")
      .select(col("doc_id"), col("cluster"))
      .repartition(4, col("doc_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$to/clusters")
  }

  /** G24: persist a B59 HLL register SHARD — the cross-run distinct-
    * count artifact. A 100 TB corpus lands in many ingest runs; each
    * run writes its ≤ 256·#groups-row register relation here (bytes,
    * not keys), and any later reader merges shards by per-register
    * MAX ([[mergeHllRegisters]]) to get the UNION cardinality without
    * rescanning a single input row — the property sketch suites call
    * "mergeable summaries". SketchSpec pins merge(halves) ≡ direct at
    * both register and estimate level.
    */
  def writeHllRegisters(events: DataFrame, path: String): Unit =
    graft.operators.Analytics.hllRegisters(events)
      .coalesce(1) // ≤ 256 * #groups rows — one file
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Merge [[writeHllRegisters]] shards: per-register MAX — the HLL
    * union. Shard count is a handful of files; the merge is one tiny
    * aggregate.
    */
  def mergeHllRegisters(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): DataFrame =
    paths.map(p => spark.read.parquet(p)).reduce(_ unionByName _)
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("reg")).as("reg"))

  /** The B59 card off a (possibly merged) register relation alone —
    * no corpus access. */
  def hllEstimate(regs: DataFrame): DataFrame =
    graft.operators.Analytics.hllCard(regs)

  /** Default cell count for an IVFPQ index build: the FAISS sizing
    * rule nlist ≈ 4·√N (clamped to [16, 4096]) — keeps the per-query
    * read fraction at nProbe/nCells ≈ nProbe/(4√N) while cells stay
    * populated enough to train. nCells = 0 in [[writeIvfPqIndex]]
    * selects this; the r11 probe measured the resulting index beating
    * brute force on scan volume at per-query AND 8-batch serving
    * (SURVEY §7n), which the r10 fixed nCells=16 default did not.
    */
  def autoNCells(n: Long): Int =
    math.max(16, math.min(4096, 4 * math.ceil(math.sqrt(n.toDouble)).toInt))

  /** G26: persist the FULL IVFPQ index — the D46 deploy artifact that
    * makes 100 TB ANN serving cheap: `path/coarse` and
    * `path/codebook` are G15-shaped center sets (coarse quantizer +
    * residual-space PQ codebook, Lloyd-trained), `path/codes` is the
    * m-codes-per-vector relation PARTITIONED BY CELL (`cell=N/`
    * dirs), so a search's probe set prunes code partitions at
    * PLANNING time and reads m small ints per candidate — the raw
    * embedding column is never touched after indexing (queries read
    * only their own vectors). Rebuild cost: one narrow
    * literal-centers pass over the corpus.
    */
  def writeIvfPqIndex(t: Tables, path: String, nCells: Int = 0,
      nCodes: Int = 8, m: Int = 8): Unit = {
    val spark = t.spark
    import spark.implicits._
    val sim = graft.operators.Similarity
    val nc = if (nCells > 0) nCells else autoNCells(t.embeddings.count())
    val coarse = sim.trainedCenters(t, nc)
    val pqr = sim.residualPqCenters(t, coarse, nCodes)
    def writeCenters(cs: Array[(Int, Seq[Double], Double)], p: String): Unit =
      cs.toSeq.toDF("cell", "center", "c2").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(p)
    writeCenters(coarse, s"$path/coarse")
    writeCenters(pqr, s"$path/codebook")
    // PACKED layout (r11): one row per vector, codes array in sub_j
    // order — a probed scan reads (nProbe/nCells)·N rows of m small
    // ints, never m rows per vector (the r10 layout's measured loss).
    // Hash-partitioned by cell first, so each `cell=N` dir holds ONE
    // file (≤ nCells files, not nTasks × nCells)
    sim.rpqCodesOf(t.embeddings, coarse, pqr, m)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** G30: INCREMENTAL index append — the operation that makes G26 a
    * living artifact instead of a rebuild-the-world one: new arrivals
    * are encoded with the PERSISTED quantizers (no retrain — exactly
    * how FAISS adds to a trained index; D40's quantizer-drift card is
    * the monitor that says when a retrain is actually due) and their
    * packed code rows land in the same `cell=N/` partition dirs via
    * dynamic partition overwrite-free append. Because encoding is
    * per-vector against fixed centers, append(base, new) ≡ one-shot
    * encode of the union corpus — the SinksSpec law — so a search
    * over the grown index equals the in-query D46 over the union.
    *
    * Scale shape: one narrow literal-centers encode pass over ONLY
    * the new vectors + a partitioned append; the base codes are never
    * read, let alone rewritten.
    */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, newVectors: DataFrame, m: Int = 8): Unit = {
    val path = resolveIndexRoot(spark, rawPath)
    val sim = graft.operators.Similarity
    val coarse = readQuantizer(spark, s"$path/coarse")
    val pqr = readQuantizer(spark, s"$path/codebook")
    sim.rpqCodesOf(newVectors, coarse, pqr, m)
      .write.mode(SaveMode.Append).partitionBy("cell")
      .parquet(s"$path/codes")
  }

  /** G32: index DELETE — the third lifecycle op (write / append /
    * delete): removals land as vec_id TOMBSTONES (an append-only
    * relation, the LSM discipline every serving store uses — base code
    * partitions are immutable); [[searchIvfPqIndex]] anti-joins them
    * so a deleted vector can never be served, and a later full rebuild
    * (writeIvfPqIndex) naturally compacts them away. Takedown and
    * dedup-purge both need this: at 100 TB you cannot rewrite cell
    * partitions per removal, and you must not wait for the next
    * rebuild to stop serving a vector.
    */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, vecIds: DataFrame): Unit =
    // BIGINT: the type searchIvfPqIndexLocal declares on read
    vecIds.select(col("vec_id").cast("long").as("vec_id")).coalesce(1)
      .write.mode(SaveMode.Append)
      .parquet(s"${resolveIndexRoot(spark, path)}/tombstones")

  /** D46 off a persisted [[writeIvfPqIndex]] — the serving path: load
    * both center sets once (bounded artifacts, one collect job each),
    * compute each query's probe cells, and scan ONLY those `cell=`
    * code partitions. Pruning happens at LISTING time (only the probed
    * cell dirs are listed — O(probed cells), not O(nCells)) and at
    * PLANNING time (the probe union lands in the scan's
    * PartitionFilters); both are spec-pinned. Per-query cell
    * restriction stays exact via the scorer's `cell` join key
    * ([[graft.operators.Similarity.ivfAdcScores]]). SinksSpec law:
    * result ≡ the in-query [[graft.operators.Similarity.annIvfRpq]]
    * row-for-row.
    *
    * Job budget per call (SinksSpec-pinned at ≤ 9): two quantizer
    * loads, the probe collect, and the scoring plan's own stages — no
    * schema-inference and no distributed file-listing job.
    */
  def searchIvfPqIndex(t: Tables, rawPath: String, nQueries: Int = 8,
      k: Int = 5, m: Int = 8, nProbe: Int = 4): DataFrame = {
    val spark = t.spark
    val path = resolveIndexRoot(spark, rawPath)
    val sim = graft.operators.Similarity
    val coarse = readQuantizer(spark, s"$path/coarse")
    val pqr = readQuantizer(spark, s"$path/codebook")
    // ONE bounded collect (≤ nQueries·nProbe rows incl. the query
    // vectors) yields both the probe list and a localized probe
    // relation — the scoring plan then reads ONLY the probed code
    // partitions; the corpus-shaped embeddings table is scanned exactly
    // once (inside probeCells) to load the query vectors
    val pcRows = sim.probeCells(t, coarse, nQueries, nProbe).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSeq
    searchIvfPqIndexLocal(spark, path, pcRows, k, m, (coarse, pqr))
  }

  /** The shared serving core: score the persisted index against a
    * LOCALIZED probe set (q_id, probe cell, query vector — already
    * collected, ≤ #queries·nProbe tuples) with the (coarse, codebook)
    * center sets the caller already loaded — a long-lived server once
    * per index version, the batch entry point once per call. Non-probed
    * cell DIRECTORIES prune at LISTING time (the read names only the
    * probed `cell=` dirs that exist, under the codes `basePath`) and at
    * PLANNING time (the scan carries `cell IN (probed)` on the
    * partition column: PartitionFilters — the G12 discipline). The
    * codes schema is declared, so planning runs no job: the only jobs
    * are the scoring plan's own stages. Per-batch online serving
    * re-plans through this with each micro-batch's own probe set,
    * which is what makes the static side read ∝ probed cells instead
    * of ∝ corpus.
    */
  private[graft] def searchIvfPqIndexLocal(
      spark: org.apache.spark.sql.SparkSession, path: String,
      pcRows: Seq[(Long, Long, Seq[Double])], k: Int, m: Int,
      quantizers: (Array[(Int, Seq[Double], Double)],
        Array[(Int, Seq[Double], Double)])): DataFrame = {
    val sim = graft.operators.Similarity
    val (coarse, pqr) = quantizers
    val probed = pcRows.map(_._2).distinct.sorted
    import spark.implicits._
    val pcLocal = pcRows.toDF("q_id", "pcell", "v")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    // list ONLY the probed cell dirs that exist (a cell no vector
    // landed in has none; no dir at all reads as an empty relation):
    // reading the codes root would list all nCells dirs, as a
    // distributed listing job once they pass
    // parallelPartitionDiscovery.threshold
    val cellDirs = probed.map(c => s"$path/codes/cell=$c").filter(exists)
    val codesBase = spark.read.schema("vec_id BIGINT, codes ARRAY<BIGINT>, cell INT")
      .option("basePath", s"$path/codes").parquet(cellDirs: _*)
      .filter(col("cell").isin(probed: _*)) // partition-dir pruning
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("codes"))
    // G32 tombstones: deleted vectors must never serve — an anti-join
    // against the (tiny, broadcastable) removal relation; absent dir =
    // no deletions ever recorded. The declared schema skips an
    // inference job, and no distinct (an anti-join ignores duplicate
    // keys) skips a shuffle stage: tombstones cost their broadcast only
    val codes =
      if (exists(s"$path/tombstones"))
        codesBase.join(broadcast(spark.read.schema("vec_id BIGINT")
          .parquet(s"$path/tombstones")), Seq("vec_id"), "left_anti")
      else codesBase
    sim.adcTopK(sim.ivfAdcScores(codes, sim.residualProbes(pcLocal, coarse), pqr, m), k)
  }

  /** G39: persisted GRAPH-ANN index — the D53 deploy artifact, closing
    * the same lifecycle G26 gave IVFPQ: `path/vectors` (the serving
    * copy — an index that needs the source table at query time is
    * half an index), `path/edges` (DIRECTED NN-descent-refined
    * out-edges WITH cosine, ≤kOut per vertex), `path/coarse_edges`
    * (the sampled layer's refined edges), `path/tombstones`.
    *
    * Append is the NSW insertion, made append-only by a structural
    * fact: the search symmetrizes edges at read time, so a stored
    * new→old edge serves as old→new too — no base-edge rewrite, ever.
    * Each arriving vector's out-edges come from SEARCHING the current
    * index (coarse seed → layer-0 beam) plus band-candidates among
    * its own batch; re-delivered vec_ids drop whole (idempotence).
    * Hub degrees grow only through symmetrization (bounded by total
    * appends); a full [[writeGraphIndex]] rebuild is the compaction,
    * re-running the descent (the G26/G32 rebuild discipline) and
    * dropping tombstoned vertices.
    *
    * SinksSpec laws: fresh-index search ≡ the in-query D53
    * row-for-row; append is idempotent; an appended DUPLICATE of an
    * existing vector is findable (its original's query returns it at
    * cosine 1.0 — the strongest deterministic insertion-quality pin);
    * tombstoned vectors never serve (navigation may still pass
    * through them until rebuild — the chunk-store honesty note).
    */
  def writeGraphIndex(t: Tables, path: String, kGraph: Int = 3,
      bits: Int = 8, nTables: Int = 4, bucketCap: Int = 128,
      kOut: Int = 16, descRounds: Int = 3, sampleMod: Int = 8,
      kOutC: Int = 8, descRoundsC: Int = 2,
      requireNavigableEntry: Boolean = false): Unit = {
    val sim = graft.operators.Similarity
    val e = sim.withNorm(t.embeddings)
    val edges = sim.nnDescentEdges(e,
      sim.knnEdgesMultiCosOf(e, kGraph, bits, nTables, bucketCap),
      kOut, descRounds)
    edges.repartition(4, col("src"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/edges")
    val es = e.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    sim.nnDescentEdges(es,
        sim.knnEdgesMultiCosOf(es, kGraph, bits, nTables, bucketCap),
        kOutC, descRoundsC)
      .repartition(4, col("src"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/coarse_edges")
    t.embeddings.select(col("vec_id"), col("embedding"))
      .repartition(4, col("vec_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/vectors")
    // provisioning guard (G42's honesty note made preventive: on a
    // small sample at fine banding, NN-descent can leave the SERVING
    // entry — min sampled vec_id, the searchGraphIndexWith seed —
    // with zero coarse edges, and every search then beams from an
    // isolated vertex). Check it at BUILD time, when the operator can
    // still pick coarser banding or a larger sample, instead of
    // shipping an index whose drift card reads reach 0 on day one.
    val deg = coarseEntryOutDegree(t.spark, path, sampleMod)
    if (deg == 0L) {
      val msg = s"graph index at $path: the coarse-layer serving entry " +
        s"has no out-edges at build time (sampleMod=$sampleMod, " +
        s"bits=$bits) — searches will beam from an isolated vertex; " +
        "rebuild with coarser banding (lower bits) or a larger sample"
      if (requireNavigableEntry) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
  }

  /** Out-degree of the SERVING entry (min sampled vec_id) over the
    * stored coarse edges, symmetrized like the read path (src ∪ dst
    * membership). −1 when the sample is empty (no entry to guard);
    * 0 is the G42 pathology the build-time guard fires on. One
    * bounded aggregate + one filtered count over the coarse layer.
    */
  def coarseEntryOutDegree(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, sampleMod: Int = 8): Long = {
    val path = resolveIndexRoot(spark, rawPath)
    val entry = spark.read.parquet(s"$path/vectors")
      .filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
      .agg(min(col("vec_id"))).head
    if (entry.isNullAt(0)) -1L
    else {
      val e0 = entry.getLong(0)
      spark.read.parquet(s"$path/coarse_edges")
        .filter(col("src") === e0 || col("dst") === e0).count()
    }
  }

  private[graft] def graphIndexVectors(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.operators.Similarity.withNorm(
      spark.read.parquet(s"$path/vectors"))

  /** Serve queries (vec_id < nQueries of the INDEXED corpus) off the
    * persisted artifacts alone — result ≡ the in-query
    * [[graft.operators.Similarity.annGraphSearchNnd]] row-for-row on a
    * fresh index. Tombstoned vectors are filtered before the final
    * rank (they may still route).
    */
  def searchGraphIndex(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, nQueries: Int = 8, beam: Int = 8, rounds: Int = 4,
      k: Int = 5, sampleMod: Int = 8): DataFrame = {
    val path = resolveIndexRoot(spark, rawPath)
    val eS = graphIndexVectors(spark, path)
    val q = eS.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    searchGraphIndexQRel(spark, path, q, beam, rounds, k, sampleMod)
  }

  /** [[searchGraphIndex]] for an ARBITRARY (q_id, qv, qn2) query
    * relation — the online graph server routes each micro-batch's
    * arriving queries through this; the batch entry point above is the
    * nQueries-prefix special case, so stream ≡ batch structurally.
    */
  private[graft] def searchGraphIndexQRel(
      spark: org.apache.spark.sql.SparkSession, rawPath: String, q: DataFrame,
      beam: Int = 8, rounds: Int = 4, k: Int = 5,
      sampleMod: Int = 8): DataFrame = {
    val path = resolveIndexRoot(spark, rawPath)
    val sim = graft.operators.Similarity
    val dd = graft.operators.Dedup
    val eS = graphIndexVectors(spark, path)
    val edges = dd.stableCheckpoint(sim.symmetrizeEdges(
      spark.read.parquet(s"$path/edges")))
    val cedges = dd.stableCheckpoint(sim.symmetrizeEdges(
      spark.read.parquet(s"$path/coarse_edges")))
    searchGraphIndexWith(spark, path, eS, edges, cedges, q, beam, rounds,
      k, sampleMod)
  }

  /** The serving core against PRE-LOADED artifacts — a long-lived
    * online server checkpoints the symmetrized edge relations ONCE at
    * start and serves every micro-batch off them (re-symmetrizing a
    * corpus-scale edge relation per batch would be the G37 full-scan
    * mistake in graph clothing); only the bounded tombstone relation
    * re-reads per call so deletes take effect between batches.
    */
  private[graft] def searchGraphIndexWith(
      spark: org.apache.spark.sql.SparkSession, path: String, eS: DataFrame,
      edges: DataFrame, cedges: DataFrame, q: DataFrame, beam: Int,
      rounds: Int, k: Int, sampleMod: Int): DataFrame = {
    val sim = graft.operators.Similarity
    val es = eS.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val ent1 = es.agg(min(col("vec_id")).as("vec_id"))
    val seeds1 = q.select(col("q_id")).crossJoin(broadcast(ent1))
    val seeds0 = sim.beamSearchQRel(eS, q, cedges, seeds1, beam, rounds,
        truncate = true)
      .select(col("q_id"), col("vec_id"))
    val beamRes = sim.beamSearchQRel(eS, q, edges, seeds0, beam, rounds,
      truncate = true)
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val served =
      if (tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tombPath))
        beamRes.join(broadcast(spark.read.parquet(s"$path/tombstones")
          .select(col("vec_id")).distinct()), Seq("vec_id"), "left_anti")
      else beamRes
    val beamW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    served
      .withColumn("rank", row_number().over(beamW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** NSW insertion: each genuinely-new vector's out-edges = the best
    * kOut of (an index SEARCH from the coarse entry) ∪ (band
    * candidates among its own batch); append-only — symmetrization at
    * read time makes the stored new→old edges serve as old→new.
    * Sampled new ids additionally join the coarse layer with their
    * coarse-beam top-kOutC.
    */
  def appendToGraphIndex(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, newVectors: DataFrame, kGraph: Int = 3,
      bits: Int = 8, nTables: Int = 4, bucketCap: Int = 128,
      kOut: Int = 16, insertBeam: Int = 16, rounds: Int = 4,
      sampleMod: Int = 8, kOutC: Int = 8): Unit = {
    val path = resolveIndexRoot(spark, rawPath)
    val sim = graft.operators.Similarity
    val dd = graft.operators.Dedup
    val eS = graphIndexVectors(spark, path)
    // idempotence: re-delivered vec_ids drop whole
    val fresh = newVectors.select(col("vec_id"), col("embedding"))
      .join(eS.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val newV = dd.stableCheckpoint(sim.withNorm(fresh))
    val qRel = newV.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("n2").as("qn2"))
    val edges = dd.stableCheckpoint(sim.symmetrizeEdges(
      spark.read.parquet(s"$path/edges")))
    val cedges = dd.stableCheckpoint(sim.symmetrizeEdges(
      spark.read.parquet(s"$path/coarse_edges")))
    val es = eS.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val ent1 = es.agg(min(col("vec_id")).as("vec_id"))
    val seeds1 = qRel.select(col("q_id")).crossJoin(broadcast(ent1))
    val coarseBeam = dd.stableCheckpoint(
      sim.beamSearchQRel(eS, qRel, cedges, seeds1, insertBeam, rounds,
        truncate = true))
    val searched = sim.beamSearchQRel(eS, qRel, edges,
      coarseBeam.select(col("q_id"), col("vec_id")), insertBeam, rounds,
      truncate = true)
    // band candidates among the batch itself (new-new neighborhoods)
    val newNew = sim.knnEdgesMultiCosOf(newV, kGraph, bits, nTables, bucketCap)
    val outW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("cos_r").desc, col("dst").asc)
    val newEdges = searched
      .select(col("q_id").as("src"), col("vec_id").as("dst"), col("cos_r"))
      .filter(col("src") =!= col("dst"))
      .unionByName(newNew)
      .distinct()
      .withColumn("rn", row_number().over(outW))
      .filter(col("rn") <= kOut).drop("rn")
    newEdges.repartition(4, col("src"))
      .write.mode(SaveMode.Append).parquet(s"$path/edges")
    val newCoarse = coarseBeam
      .select(col("q_id").as("src"), col("vec_id").as("dst"), col("cos_r"))
      .filter(pmod(col("src"), lit(sampleMod.toLong)) === 0L &&
        col("src") =!= col("dst"))
      .withColumn("rn", row_number().over(outW))
      .filter(col("rn") <= kOutC).drop("rn")
    newCoarse.repartition(4, col("src"))
      .write.mode(SaveMode.Append).parquet(s"$path/coarse_edges")
    // newV is checkpoint-materialized, so this append never re-reads
    // the vectors dir it is writing into. The embedding column casts
    // to the BASE relation's element type: a double-typed arrival
    // appended next to float-stored base files would leave a
    // mixed-schema dir that fails at read time (schema stability is
    // the artifact's contract, not the caller's problem)
    val baseEmb = spark.read.parquet(s"$path/vectors")
      .schema("embedding").dataType
    newV.select(col("vec_id"), col("embedding").cast(baseEmb).as("embedding"))
      .repartition(4, col("vec_id"))
      .write.mode(SaveMode.Append).parquet(s"$path/vectors")
  }

  /** Delete = vec_id tombstones (the G32 LSM discipline);
    * [[compactGraphIndex]] is the purge, [[writeGraphIndex]] over the
    * live corpus the full re-descent rebuild. */
  def deleteFromGraphIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, vecIds: DataFrame): Unit =
    vecIds.select(col("vec_id")).coalesce(1)
      .write.mode(SaveMode.Append)
      .parquet(s"${resolveIndexRoot(spark, path)}/tombstones")

  /** G39 COMPACTION (the G33/G38 lifecycle twin the graph index was
    * missing — r12 verdict #2: tombstones otherwise accumulate forever
    * in the served relation): rewrite to a NEW path keeping only live
    * vertices, with the read-time symmetrization MATERIALIZED — every
    * append wave's new→old edges fold into the base as explicit
    * old→new rows, and tombstoned vertices leave the graph entirely
    * (their edges with them) instead of merely being filtered at the
    * final rank.
    *
    * Design choice, pinned by the law: compaction PRESERVES the served
    * graph — it purges and folds, it does not re-run the descent — so
    * post-compact search ≡ pre-compact live search row-for-row
    * (SinksSpec), the property an operator compacting a serving store
    * actually needs (a re-descent would silently reshuffle results the
    * moment the store is swapped). symmetrize∘symmetrize is identity,
    * so [[searchGraphIndex]]'s read-time symmetrization is a no-op on
    * the compacted artifact and the search plan loses the union+
    * distinct work per query. The coarse layer compacts the same way —
    * appended sampled vertices are already members (append adds their
    * coarse out-edges), so the layer tracks the grown corpus without a
    * rebuild. Heavy deletions that disconnect regions routed through
    * purged hubs are the signal to run the full [[writeGraphIndex]]
    * re-descent — the honesty note SinksSpec's probe column watches.
    *
    * Scale shape: three semi-joins against the (bounded) live-vertex
    * relation + partitioned rewrites; no descent, no candidate joins,
    * no corpus access beyond the index's own artifacts.
    */
  def compactGraphIndex(spark: org.apache.spark.sql.SparkSession,
      rawFrom: String, to: String): Unit = {
    // `from` resolves (compact the LIVE version); `to` is a new
    // physical dir — typically versionPath(root, current + 1), swapped
    // in by the caller once the write completes
    val from = resolveIndexRoot(spark, rawFrom)
    val tombPath = new org.apache.hadoop.fs.Path(s"$from/tombstones")
    val hasTomb = tombPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(tombPath)
    val vectors = spark.read.parquet(s"$from/vectors")
    val live =
      if (hasTomb)
        vectors.join(broadcast(spark.read.parquet(s"$from/tombstones")
          .select(col("vec_id")).distinct()), Seq("vec_id"), "left_anti")
      else vectors
    live.repartition(4, col("vec_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$to/vectors")
    val liveIds = spark.read.parquet(s"$to/vectors").select(col("vec_id"))
    // symmetrize CARRYING the cosine (the reverse edge scores the same
    // — dot commutes), so the compacted layer keeps the lifecycle
    // schema (src, dst, cos_r) and later appends stay schema-stable
    def compactEdges(layer: String): Unit = {
      val e = spark.read.parquet(s"$from/$layer")
        .select(col("src"), col("dst"), col("cos_r"))
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"),
          col("cos_r")))
        .distinct()
        .join(liveIds.select(col("vec_id").as("src")), Seq("src"), "left_semi")
        .join(liveIds.select(col("vec_id").as("dst")), Seq("dst"), "left_semi")
        .repartition(4, col("src"))
        .write.mode(SaveMode.Overwrite).parquet(s"$to/$layer")
    }
    compactEdges("edges")
    compactEdges("coarse_edges")
  }

  /** G42: COARSE-LAYER DRIFT card for the G39 graph index — the D40
    * quantizer-drift pattern pointed at the graph artifact (r14,
    * verdict #7): append samples new ids into the coarse layer by the
    * 1/sampleMod rule and delete tombstones vertices without touching
    * edges, so after many waves + takedowns nothing guaranteed the
    * sampled layer still (a) covers its 1/sampleMod share of the LIVE
    * corpus and (b) reaches its own mass from the serving entry point.
    * This card measures both, against a FRESH RE-SAMPLE baseline:
    *
    *  - `coarse_share_r` vs `target_share_r`: live coarse members /
    *    live vectors vs the 1/sampleMod provisioning rate the layer
    *    exists to hold; `share_drift_r` < 0 means takedowns ate the
    *    layer faster than appends replenished it (a takedown wave
    *    that clusters on sampled ids under-provisions the layer even
    *    though the id RULE re-applied to the live corpus would too —
    *    the serving property is the rate, not the rule).
    *  - `reach_r`: from the SERVING entry rule (min sampled vec_id,
    *    the searchGraphIndexWith seed), the fraction of stored coarse
    *    members reachable over the symmetrized stored coarse edges
    *    (CC, the C7 machinery — routing traverses tombstoned vertices
    *    until compaction, so stored membership is the honest base).
    *  - `reach_fresh_r`: the same reach on a freshly re-sampled,
    *    freshly descended coarse layer over the live corpus (the
    *    writeGraphIndex recipe) — the yardstick. `reach_gap_r` going
    *    negative is the re-descend signal, exactly like D40's drift
    *    column is the re-train signal for quantizers.
    *
    * Scale shape: two bounded aggregates over the index's own
    * artifacts, one CC over the (corpus/sampleMod)-sized coarse layer,
    * one coarse-only descent over the live sample — no corpus access
    * beyond the vectors relation the index already stores.
    */
  def coarseDriftCard(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, sampleMod: Int = 8, kGraph: Int = 3, bits: Int = 8,
      nTables: Int = 4, bucketCap: Int = 128, kOutC: Int = 8,
      descRoundsC: Int = 2, maxIter: Int = 20): DataFrame = {
    val path = resolveIndexRoot(spark, rawPath)
    val sim = graft.operators.Similarity
    val dd = graft.operators.Dedup
    val vectors = spark.read.parquet(s"$path/vectors")
    val tombPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val live =
      if (tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(tombPath))
        vectors.join(broadcast(spark.read.parquet(s"$path/tombstones")
          .select(col("vec_id")).distinct()), Seq("vec_id"), "left_anti")
      else vectors
    val nLive = live.count()
    val liveSampled = live.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val nTarget = liveSampled.count()
    val cedges = spark.read.parquet(s"$path/coarse_edges")
      .select(col("src"), col("dst"))
    // membership = src ∪ dst: the read-time symmetrization makes a
    // dst-only vertex routable, so it IS part of the served layer
    val members = dd.stableCheckpoint(
      cedges.select(col("src")).union(cedges.select(col("dst")))
        .distinct().select(col("src").as("vec_id")))
    val nMembers = members.count()
    val nMembersLive = members.join(broadcast(
      live.select(col("vec_id"))), Seq("vec_id"), "left_semi").count()
    // reach of a coarse layer from an entry over its symmetrized edges:
    // entry's CC component mass / member mass
    def reach(edges: DataFrame, mem: DataFrame, nMem: Long,
        entry: Long, name: String): Double =
      if (nMem == 0) 0.0
      else {
        val cc = dd.clusterPairs(
          edges.select(col("src").as("doc_a"), col("dst").as("doc_b")),
          mem.select(col("vec_id").as("doc_id")), maxIter, name)
        val entryCluster = cc.filter(col("doc_id") === entry)
          .select(col("cluster")).collect().headOption.map(_.getLong(0))
        val r = entryCluster.fold(0L)(c =>
          cc.filter(col("cluster") === c).count()).toDouble / nMem
        dd.releaseCheckpoint(cc)
        r
      }
    // the serving entry rule (searchGraphIndexWith): min sampled id of
    // the index's OWN vectors relation — tombstones do not move it;
    // an index whose ids never hit the sample residue has no entry,
    // which the card reports as reach 0 (same guard as the fresh side)
    val entryStored = {
      val r = vectors
        .filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
        .agg(min(col("vec_id"))).head
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
    val reachAsIs =
      if (entryStored < 0L) 0.0
      else reach(cedges, members, nMembers, entryStored, "coarse_drift_asis")
    // fresh yardstick: re-sample the LIVE corpus, re-descend the
    // coarse layer with the writeGraphIndex recipe
    val esLive = dd.stableCheckpoint(sim.withNorm(
      liveSampled.select(col("vec_id"), col("embedding"))))
    val freshEdges = sim.nnDescentEdges(esLive,
      sim.knnEdgesMultiCosOf(esLive, kGraph, bits, nTables, bucketCap),
      kOutC, descRoundsC)
    val freshMembers = dd.stableCheckpoint(
      freshEdges.select(col("src")).union(freshEdges.select(col("dst")))
        .distinct().select(col("src").as("vec_id")))
    val nFresh = freshMembers.count()
    val entryFresh =
      if (nTarget == 0) -1L
      else liveSampled.agg(min(col("vec_id"))).head.getLong(0)
    val reachFresh = reach(freshEdges.select(col("src"), col("dst")),
      freshMembers, nFresh, entryFresh, "coarse_drift_fresh")
    dd.releaseCheckpoint(members)
    dd.releaseCheckpoint(esLive)
    dd.releaseCheckpoint(freshMembers)
    def r6v(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val share = if (nLive == 0) 0.0 else nMembersLive.toDouble / nLive
    val target = 1.0 / sampleMod
    import spark.implicits._
    Seq((nLive, nMembers, nMembersLive, r6v(share), r6v(target),
      r6v(share - target), r6v(reachAsIs), r6v(reachFresh),
      r6v(reachAsIs - reachFresh)))
      .toDF("n_live", "n_coarse_stored", "n_coarse_live", "coarse_share_r",
        "target_share_r", "share_drift_r", "reach_r", "reach_fresh_r",
        "reach_gap_r")
  }

  /** G41: ATOMIC serving-store swap — the step the compaction arc
    * dead-ended one short of production (r13 verdict #3): compaction
    * writes to a NEW path, but a live server constructed on a fixed
    * path could never move to it without a restart. Layout: a
    * versioned root holds immutable artifact sets under
    * `<root>/versions/<N>/` plus a tiny `_current` pointer file
    * holding the live version number. [[resolveIndexRoot]] maps the
    * root to the live version dir (a root with no pointer resolves to
    * itself, so every pre-versioning store keeps working unchanged);
    * every index entry point resolves on entry, and the two online
    * servers re-resolve per micro-batch (the same hook that re-reads
    * tombstones), so [[swapIndexVersion]] moves batch readers, the
    * lifecycle ops AND live serving to the new version with zero
    * dropped queries — the takedown story completes: tombstone stops
    * serving → compact purges into versions/N+1 → swap.
    *
    * Atomicity: the pointer is ONE file, written to a scratch name and
    * renamed over `_current` with Options.Rename.OVERWRITE — a reader
    * sees the old version or the new one, never a torn pointer; the
    * version dirs themselves are immutable once swapped in.
    */
  def versionPath(root: String, n: Long): String = s"$root/versions/$n"

  private def currentPtr(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_current")

  def currentIndexVersion(spark: org.apache.spark.sql.SparkSession,
      root: String): Option[Long] = {
    val p = currentPtr(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(buf.toString("UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** The live artifact path of `path`: its current version dir when a
    * `_current` pointer exists, `path` itself otherwise (unversioned
    * stores resolve to themselves). */
  def resolveIndexRoot(spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    currentIndexVersion(spark, path).map(versionPath(path, _)).getOrElse(path)

  /** Flip the `_current` pointer of `root` to version `n` (whose
    * artifact dir must already exist — the caller built it with a
    * write/compact into [[versionPath]]). Safe under a live server:
    * the next micro-batch re-resolves and serves version `n`. */
  def swapIndexVersion(spark: org.apache.spark.sql.SparkSession,
      root: String, n: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val vp = new org.apache.hadoop.fs.Path(versionPath(root, n))
    val fs = vp.getFileSystem(conf)
    require(fs.exists(vp),
      s"swapIndexVersion: ${vp.toString} does not exist — build it first")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$root/_current.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(currentPtr(root)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** G27: persist a B63 TOP-K shard — the cross-run leaderboard
    * artifact. Top-k selection is a SEMILATTICE (top-k of a union ==
    * top-k of the unioned per-run top-ks), so per-run ≤k-pair shards
    * merge to the EXACT global top-k with zero input rescans — unlike
    * a sum sketch there is no error term at all. Schema: (group key,
    * `pairs` array<struct<v: double, id: bigint>> in (v DESC, id ASC)
    * order).
    */
  def writeTopKShards(shards: DataFrame, path: String): Unit =
    shards.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  def readTopKShards(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** Merge two top-k shard relations per group: the k largest
    * (v DESC, id ASC) pairs of the union — TopKRows.merge in native
    * array functions, with the pair order supplied as an array_sort
    * comparator lambda (struct field order alone would sort v
    * ascending).
    */
  def mergeTopKShards(a: DataFrame, b: DataFrame, k: Int,
      key: String = "event_type"): DataFrame = {
    val emptySql = "CAST(array() AS array<struct<v: double, id: bigint>>)"
    val cmp = "(l, r) -> CASE WHEN l.v > r.v THEN -1 WHEN l.v < r.v THEN 1 " +
      "WHEN l.id < r.id THEN -1 WHEN l.id > r.id THEN 1 ELSE 0 END"
    a.select(col(key), col("pairs").as("pa"))
      .join(b.select(col(key), col("pairs").as("pb")), Seq(key), "full_outer")
      .select(col(key),
        slice(expr("array_sort(array_distinct(concat(" +
          s"coalesce(pa, $emptySql), coalesce(pb, $emptySql))), $cmp)"),
          1, k).as("pairs"))
  }

  /** G25: persist a B62 bottom-k SAMPLE shard — the cross-run quantile
    * artifact (the fourth mergeable-summary sink next to G22 KMV, G24
    * HLL registers, G15 quantizer centers). Each ingest run writes its
    * ≤ k·#groups (hash, value) pairs here; a later reader merges
    * shards ([[mergeSampleShards]]) into the union corpus's sample —
    * quantiles over ANY past run combination without rescanning a
    * row. Expected schema: (group key column, `pairs`
    * array<struct<h: bigint, v: double>>).
    */
  def writeSampleShards(samples: DataFrame, path: String): Unit =
    samples.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  def readSampleShards(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** Merge two sample-shard relations per group: the k
    * lexicographically-smallest distinct (h, v) pairs of the union —
    * semantically identical to BottomKSample.merge, expressed in
    * NATIVE array functions (array_sort on struct arrays orders by
    * fields left-to-right = the (h, v) pair order), so merging N runs
    * is a full-outer-join chain of #groups-row relations.
    */
  def mergeSampleShards(a: DataFrame, b: DataFrame, k: Int,
      key: String = "event_type"): DataFrame = {
    val empty = array().cast("array<struct<h: bigint, v: double>>")
    a.select(col(key), col("pairs").as("pa"))
      .join(b.select(col(key), col("pairs").as("pb")), Seq(key), "full_outer")
      .select(col(key),
        slice(array_sort(array_distinct(concat(
          coalesce(col("pa"), empty), coalesce(col("pb"), empty)))), 1, k)
          .as("pairs"))
  }

  /** The B62 quantile card off a (possibly merged) sample-shard
    * relation alone — no corpus access; same nearest-rank pick
    * arithmetic as the batch card.
    */
  def sampleQuantiles(shards: DataFrame,
      key: String = "event_type"): DataFrame = {
    // empty-sample guard: a hand-built or filtered shard relation can
    // carry an empty pairs array, and under ANSI mode element_at(sv, 1)
    // would throw instead of degrading — NULL quantiles match the
    // docSnapshotChurn null-degenerate convention
    val pick = (sv: org.apache.spark.sql.Column,
        m: org.apache.spark.sql.Column, p: Double) =>
      when(m > 0,
        element_at(sv, (floor(lit(p) * (m - 1).cast("double") + 0.5) + 1)
          .cast("int")))
    shards
      .select(col(key), size(col("pairs")).cast("long").as("n_sample"),
        array_sort(transform(col("pairs"), s => s.getField("v"))).as("sv"))
      .select(col(key), col("n_sample"),
        pick(col("sv"), col("n_sample"), 0.25).as("q25"),
        pick(col("sv"), col("n_sample"), 0.50).as("q50"),
        pick(col("sv"), col("n_sample"), 0.75).as("q75"),
        pick(col("sv"), col("n_sample"), 0.90).as("q90"))
  }
}
