package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Dual-encoding contract for the events reader (VERDICT r8 #2).
  *
  * The harness has shipped `events.parquet` with TWO different parquet
  * timestamp encodings across rounds — `TIMESTAMP(NANOS)` (rounds 1–7)
  * and `TIMESTAMP(MICROS, isAdjustedToUTC=false)` (round 8's regenerated
  * testdata) — and a 100 TB lake mixes writer generations the same way.
  * This spec pins the reader-boundary contract so a future regeneration
  * cannot silently break 22 queries again: [[Tables.events]] must yield
  * `ts` as `LongType` epoch-NANOS for BOTH encodings, with identical
  * values (µs data is ns-floored by definition), independent of the
  * session time zone.
  *
  * Both fixtures are written with the parquet-hadoop example API — NOT
  * Spark — deliberately: Spark cannot write TIMESTAMP(NANOS) at all, and
  * a Spark-written µs file embeds the catalyst schema in the footer
  * (`org.apache.spark.sql.parquet.row.metadata`), which overrides the
  * NTZ-inference conf on read and therefore does not reproduce what the
  * harness's pyarrow writer produces (a bare footer, where inference
  * rules apply). The Spark-written shape gets its own test below, since
  * it exercises the defensive NTZ fallback arm instead.
  */
class EventsEncodingSpec extends SparkSpec {

  /** Sub-µs nanos on purpose: the ns path must preserve the ...123 tail. */
  private val NanoTs: Seq[Long] =
    Seq(1704067798778549123L, 1704068798000000456L, 1706657176220708789L)

  /** Write `dir/events.parquet` with a bare (pyarrow-style) footer and
    * `ts` as INT64 TIMESTAMP(`unit`, isAdjustedToUTC=false), one row per
    * value in `ts` (already expressed in `unit`).
    */
  private def writeFixture(unit: TimeUnit, ts: Seq[Long]): String = {
    val dir  = Files.createTempDirectory(s"graft_ev_$unit").toFile
    val file = new java.io.File(dir, "events.parquet")
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, unit))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val writer = ExampleParquetWriter.builder(new Path(file.getAbsolutePath))
      .withType(schema).build()
    val fac = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      writer.write(fac.newGroup()
        .append("event_id", i.toLong).append("ts", t).append("user_id", i.toLong)
        .append("event_type", "view").append("value", 1.0).append("props", "{}"))
    } finally writer.close()
    dir.getAbsolutePath
  }

  private def readTs(dir: String): Seq[Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === LongType,
      s"events.ts must normalize to LongType nanos, got ${df.schema("ts").dataType}")
    df.select("ts").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("TIMESTAMP(NANOS) parquet yields exact LongType epoch-nanos") {
    assert(readTs(writeFixture(TimeUnit.NANOS, NanoTs)) === NanoTs.sorted)
  }

  test("compaction survives a TIMESTAMP(NANOS) lake without a prior events read (r10)") {
    // the compaction ops set the nanosAsLong shim themselves — without
    // that, running a layout rewrite BEFORE any Tables.events call in
    // the session threw PARQUET_TYPE_ILLEGAL (order-dependent failure)
    val dir = writeFixture(TimeUnit.NANOS, NanoTs)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val out = Files.createTempDirectory("graft_ev_compact").toFile
    graft.sources.StorageOps.compactZOrder(spark,
      s"$dir/events.parquet", out.getAbsolutePath,
      targetBytes = 1L << 20, zCols = Seq("user_id", "value"))
    val ts = spark.read.parquet(out.getAbsolutePath)
      .select("ts").collect().map(_.getLong(0)).sorted.toSeq
    assert(ts === NanoTs.sorted,
      "compaction must copy raw int64 nanos byte-identically")
  }

  test("TIMESTAMP(MICROS) parquet yields µs-floored LongType epoch-nanos") {
    val dir = writeFixture(TimeUnit.MICROS, NanoTs.map(_ / 1000L))
    assert(readTs(dir) === NanoTs.map(ns => ns / 1000L * 1000L).sorted)
  }

  test("TIMESTAMP(MILLIS) parquet yields ms-floored LongType epoch-nanos") {
    val dir = writeFixture(TimeUnit.MILLIS, NanoTs.map(_ / 1000000L))
    assert(readTs(dir) === NanoTs.map(ns => ns / 1000000L * 1000000L).sorted)
  }

  test("µs normalization is independent of the session time zone") {
    val dir  = writeFixture(TimeUnit.MICROS, NanoTs.map(_ / 1000L))
    val utc  = readTs(dir)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(readTs(dir) === utc)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("Spark-written NTZ µs parquet (embedded catalyst schema) normalizes exactly") {
    // A Spark writer embeds timestamp_ntz in the footer metadata; the
    // events reader's pinned-schema re-read overrides it (user-supplied
    // schemas win over writer metadata), so even this shape normalizes
    // to the exact raw micros, tz-independently.
    val dir = Files.createTempDirectory("graft_ev_sparkntz").toFile.getAbsolutePath
    val rows = NanoTs.zipWithIndex.map { case (ns, i) =>
      Row(i.toLong, java.time.LocalDateTime.ofEpochSecond(
        ns / 1000000000L, ((ns / 1000L) % 1000000L).toInt * 1000,
        java.time.ZoneOffset.UTC), i.toLong, "view", 1.0, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("ts", TimestampNTZType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_type", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("props", StringType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(readTs(dir) === NanoTs.map(ns => ns / 1000L * 1000L).sorted)
  }

  test("an unsupported ts physical type fails loudly at the reader boundary") {
    // a silent pass-through here would surface as 22 downstream
    // DATATYPE_MISMATCH failures (round 8's failure mode) — the reader
    // must throw at the single chokepoint instead
    val dir  = Files.createTempDirectory("graft_ev_bad").toFile
    val file = new java.io.File(dir, "events.parquet")
    val schema = Types.buildMessage()
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("ts")
      .named("events")
    val writer = ExampleParquetWriter.builder(new Path(file.getAbsolutePath))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", "not-a-timestamp"))
    finally writer.close()
    val e = intercept[IllegalStateException] {
      Tables.events(spark, dir.getAbsolutePath)
    }
    assert(e.getMessage.contains("unsupported parquet type"))
  }

  test("reading events leaves other tables' timestamp types untouched") {
    // the normalization must be scoped to events.ts — a session-wide
    // NTZ-inference override would flip o_orderdate/l_shipdate from
    // NTZ to LTZ for every read AFTER the first events read, an
    // order-dependent type surface this test forbids
    val before = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .schema("l_shipdate").dataType
    Tables.events(spark, "/root/testdata/sf0.001").count()
    val after = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .schema("l_shipdate").dataType
    assert(after === before,
      s"events read changed l_shipdate: $before -> $after")
  }

  test("normalizeTsNanos NTZ arm is value-preserving under a UTC session") {
    val ns  = 1704067798778549000L
    val df = spark.sql(
      s"SELECT TIMESTAMP_NTZ'2024-01-01 00:09:58.778549' AS ts")
    val got = Tables.normalizeTsNanos(df, "ts").collect()(0).getLong(0)
    assert(got === ns)
  }

  test("harness testdata reads as LongType nanos under the current encoding") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType === LongType)
    assert(df.selectExpr("count(*)").collect()(0).getLong(0) > 0)
  }
}
