package graft.queries

import graft.Tables
import graft.operators.KernelRefusal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream queries (SURVEY.md §2.2 rows 16–17, 20–22, 29, 32–33, 39–42):
  * distinct counting, JSON extraction, time windows, sessionization, lag
  * analytics, and the as-of join.
  *
  * The windowed queries (q11, q12s) use the SAME operators Structured
  * Streaming executes (`window`, `session_window`), run here in batch mode —
  * so batch results double as the streaming-equivalence oracle (§5.5).
  */
object Events {

  /** The columnar kernels' pruned input frames, exported as the ONE
    * definition each kernel scans — [[graft.Exec]]'s validity bounds
    * check THESE (drift-proofing, r13 review).
    */
  private[graft] def q9aKernelInput(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q9aKernelInput") {
      Tables.events(s, d).select(col("user_id"))
    }
  private[graft] def q10KernelInput(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q10KernelInput") {
      Tables.events(s, d).select(col("event_type"), col("props"))
    }
  private[graft] def q11KernelInput(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q11KernelInput") {
      Tables.events(s, d).select(col("ts"), col("event_type"), col("value"))

    }
  /** Q9a exact distinct users: shuffles only the (pruned) user_id column;
    * partial distinct per partition before the exchange.
    */
  def q9a(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(countDistinct(col("user_id")).as("du"))

  /** Q9b approx distinct (HLL++, TypedImperativeAggregate): constant-size
    * sketch per partition → one tiny shuffle regardless of data volume.
    * Oracle-checked with ±5% tolerance, never hash-matched (SURVEY §2.2 #17).
    */
  def q9b(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(approx_count_distinct(col("user_id")).as("adu"))

  /** [[q9a]] on the columnar seam (driver-gated as q114 on q9a's oracle):
    * exact distinct-user census as one single-stage pass — the q113
    * digest-set pattern on a long column, closing the r12 verdict's one
    * B-set query with no fast physical form (the declarative two-stage
    * distinct pays ~2 dispatch floors against a ~5 ms oracle). Each
    * partition folds its batches into a primitive open-addressing id set;
    * sets tree-merge ON EXECUTORS and the driver receives one merged
    * set's size, bounded by the broadcast-regime gate on the pruned scan
    * ([[graft.queries.Relational.withinBroadcastBound]]). Past the gate
    * the kernel counts DISTRIBUTED — per-partition-distinct ids shuffle
    * through `distinct().count()` — so driver state never scales with the
    * user population. countDistinct skips NULL inputs; both paths do too.
    */
  def q9aColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val ev = q9aKernelInput(spark, dir)
    val (batches, schema) = graft.operators.ColumnarScan.batches(ev)
    val uIdx = schema.fieldIndex("user_id")
    val isLong = schema(uIdx).dataType match {
      case LongType => true
      case IntegerType => false
      case other => throw new KernelRefusal(
        s"q9aColumnarKernel: user_id scanned as ${other.sql} — extend the " +
        "kernel alongside Tables/probeSchemas (same drift contract).")
    }
    def foldInto(set: graft.operators.LongAccMap,
        b: org.apache.spark.sql.vectorized.ColumnarBatch): graft.operators.LongAccMap = {
      val n = b.numRows()
      val v = b.column(uIdx)
      val anyNull = v.hasNull
      var i = 0
      while (i < n) {
        if (!(anyNull && v.isNullAt(i)))
          set.slot(if (isLong) v.getLong(i) else v.getInt(i).toLong)
        i += 1
      }
      set
    }
    val du: Long =
      if (graft.queries.Relational.withinBroadcastBound(ev)) {
        // single-stage finale under the gate (KernelFinale scaladoc: the
        // tree's extra stage measured ~60 ms of pure dispatch at local[32])
        graft.operators.KernelFinale.aggregate(batches,
          () => new graft.operators.LongAccMap(1))(
          seqOp = foldInto,
          combOp = { (a, b2) => b2.foreachEntry((k, _) => a.slot(k)); a })
          .size.toLong
      } else {
        batches.mapPartitions { it =>
          val set = it.foldLeft(new graft.operators.LongAccMap(1))(foldInto)
          val keys = new Array[Long](set.size)
          var k = 0
          set.foreachEntry { (key, _) => keys(k) = key; k += 1 }
          keys.iterator
        }.distinct().count()
      }
    val outSchema = StructType(Seq(StructField("du", LongType, nullable = false)))
    graft.operators.KernelFinale.primitiveRows(spark, outSchema, Seq(Array[Any](du)))
  }

  /** Q10 JSON path extraction + aggregate. The path probe is
    * [[graft.expressions.PipelineExprs.jsonIntProbe]] — a single byte-scan
    * with zero parser allocation that extracts the int directly
    * (property-tested equal to `cast(get_json_object(..) AS INT)`). Two
    * generations of fix, both slope-measured: get_json_object paid a full
    * Jackson streaming parse per row (16.8× the oracle's marginal); the
    * r10 string probe cut that to ~2-5× but still materialized a
    * per-row UTF8String + Cast (CodegenFallback glue); the fused int
    * probe removes the allocation and runs inside WholeStageCodegen.
    * At 100 TB prefer from_json into a struct column once if MANY keys
    * are extracted (q34) or parse_json/VARIANT under schema drift (q41).
    */
  def q10(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(sum(graft.expressions.PipelineExprs.jsonIntProbe(col("props"), "k")).as("sk"))
      .orderBy("event_type")

  /** [[q10]] on the columnar seam (driver-gated as q110 on q10's oracle):
    * the fused [[graft.expressions.PipelineExprs.jsonIntProbe]] byte scan
    * called directly per row on the props bytes — same non-ANSI/try_cast
    * semantics, same `IntNull` sentinel — with event_type as dictionary
    * ids and per-type long sums merged on the driver (bounded: types).
    * Relative to q10's already-fused expression this removes the row
    * boundary and the hash-agg machinery; the per-row JSON byte scan
    * itself is unchanged (and property-pinned where it lives).
    */
  def q10ColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val ev = q10KernelInput(spark, dir)
    val (batches, schema) = graft.operators.ColumnarScan.batches(ev)
    val etIdx = schema.fieldIndex("event_type")
    val prIdx = schema.fieldIndex("props")
    val NullType = 0xFFFFF
    val keyBytes = "k".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val partials = batches.mapPartitions { it =>
      val et = new graft.operators.StringIdInterner
      var sums = new Array[Long](16)
      var hasv = new Array[Long](16)
      var nullSum = 0L; var nullHas = 0L; var nullSeen = false
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val etV = b.column(etIdx); val prV = b.column(prIdx)
        val anyNull = etV.hasNull || prV.hasNull
        et.bind(etV)
        var i = 0
        while (i < n) {
          // null props → probe yields SQL NULL → sum skips; IntNull
          // likewise (missing key / non-numeric / out of range)
          var v = graft.expressions.JsonScalarProbe.IntNull
          if (!(anyNull && prV.isNullAt(i)))
            v = graft.expressions.JsonScalarProbe.probeInt(
              prV.getUTF8String(i).getBytes, keyBytes)
          if (anyNull && etV.isNullAt(i)) {
            // the null-type GROUP exists even when every probe in it is
            // NULL (groupBy emits it with sk NULL)
            nullSeen = true
            if (v != graft.expressions.JsonScalarProbe.IntNull) {
              nullSum += v; nullHas = 1L
            }
          } else {
            val id = et.idAt(i) // interner records the group either way
            if (id >= sums.length) {
              sums = java.util.Arrays.copyOf(sums, sums.length * 2)
              hasv = java.util.Arrays.copyOf(hasv, hasv.length * 2)
            }
            if (v != graft.expressions.JsonScalarProbe.IntNull) {
              sums(id) += v; hasv(id) = 1L
            }
          }
          i += 1
        }
      }
      val out = Vector.newBuilder[(String, Long, Long)]
      var id = 0
      while (id < et.size) { out += ((et.name(id), sums(id), hasv(id))); id += 1 }
      if (nullSeen) out += ((null, nullSum, nullHas))
      out.result().iterator
    }
    // NOTE groups must exist even when every probe in them is NULL (the
    // declarative groupBy emits them with sk NULL) — the interner records
    // every seen type, so all-null groups flow through with has=0
    val merged = new java.util.HashMap[String, Array[Long]]()
    partials.collect().foreach { case (name, s, h) =>
      val a = merged.computeIfAbsent(name, _ => new Array[Long](2))
      a(0) += s; a(1) |= h
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Row)]
    merged.forEach { (name, a) =>
      rows += ((name, Row(name, if (a(1) == 0L) null else java.lang.Long.valueOf(a(0)))))
    }
    val sorted = rows.sortWith { case ((na, _), (nb, _)) =>
      if (na == null || nb == null) na == null && nb != null
      else UTF8String.fromString(na).compareTo(UTF8String.fromString(nb)) < 0
    }.map(_._2)
    val outSchema = StructType(Seq(
      StructField("event_type", StringType, nullable = true),
      StructField("sk", LongType, nullable = true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(sorted.asJava, outSchema)
  }

  /** q34 from_json -> struct access (SURVEY §2.2 row 32): parse props once
    * into a typed struct and aggregate a field — the multi-key alternative
    * to q10's single-path get_json_object probe.
    */
  def q34(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))
    Tables.events(spark, dir)
      .withColumn("j", from_json(col("props"), schema))
      .groupBy(col("event_type"))
      .agg(sum(col("j").getField("k")).as("sk"))
      .orderBy("event_type")
  }

  /** q41: VARIANT-typed JSON access (Spark 4's native semi-structured
    * type) — the third member of the JSON family next to q10's path probe
    * and q34's from_json struct. parse_json shreds the document into a
    * binary variant once; field access is then a typed extraction, which at
    * 100 TB beats re-parsing text per path and handles schema drift that a
    * fixed from_json struct cannot. Same output as q10 (same oracle).
    */
  def q41(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("v", parse_json(col("props")))
      .groupBy(col("event_type"))
      .agg(sum(try_variant_get(col("v"), "$.k", "int")).as("sk"))
      .orderBy("event_type")

  /** Q11 tumbling daily window. Under the engine's UTC-session contract
    * (every engine-owned session pins `spark.sql.session.timeZone=UTC` —
    * Session/Verify/specs), a 1-day tumbling window with the default
    * origin is EXACTLY `date_trunc('day', ts)` — same UTC boundaries, same
    * groups — so the hot path groups by the primitive date key instead of
    * the `window()` STRUCT key (measured r11: the struct group key cost
    * +26% wall on the same aggregation; see PERF.md).
    *
    * PRECONDITION: on a caller session with a NON-UTC timezone,
    * `date_trunc` follows the session's local calendar day while
    * `window()`'s fixed origin stays UTC-aligned, so the two spellings
    * bucket boundary events differently (and `to_date` rendering in the
    * window form shifts too) — the equality below is a UTC-session
    * statement, same contract class as q83's ASCII precondition.
    *
    * The literal streaming-operator spelling is kept as [[q11Window]] with
    * a row-for-row equality gate (the q5/q5Window pattern), and the REAL
    * streaming path (streaming/Streams.scala) still runs `window()` —
    * batch≡stream equivalence is spec'd there.
    */
  def q11(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // `cast(ts AS DATE)` ≡ `to_date(date_trunc('day', ts))` in ANY session
      // timezone (both truncate to the session-local day); the cast spelling
      // skips date_trunc's instant→zoned→truncate→instant round trip —
      // measured −32% on the 10M-row scaled table (PERF.md r12 columnar
      // section: 0.644 → 0.444 s group-count, parity-checked)
      .groupBy(col("ts").cast("date").as("d"), col("event_type"))
      .agg(count(lit(1)).as("c"), Relational.dsum(col("value"), 2).as("s"))
      .orderBy("d", "event_type")

  /** The literal streaming operator (`window`) in batch mode — retained as
    * the semantic cross-check for [[q11]] (EventsSpec asserts equality).
    */
  def q11Window(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("c"), Relational.dsum(col("value"), 2).as("s"))
      .select(to_date(col("window.start")).as("d"), col("event_type"), col("c"), col("s"))
      .orderBy("d", "event_type")

  /** [[q11]] as a COLUMNAR-BATCH kernel — the engine's first operator on
    * the [[graft.operators.ColumnarScan]] seam, attacking the one cost the
    * r12 decomposition proved is q11's ENTIRE remaining marginal vs the
    * oracle: the vectorized-reader→row boundary
    * (tools/bench_q11_decomp_latest.json@ec375fe — bare scan-agg ≡ full
    * q11 within residuals; "only a different scan boundary moves this family").
    *
    * Semantics are q11's, re-derived from raw scan columns:
    *  - day: `to_date(date_trunc('day', ts))` under the UTC-session
    *    contract == floorDiv(micros, 86 400 000 000) == the DateType
    *    internal epoch-day. The ts variant normalization is
    *    [[graft.Tables.events]]' exactly: NANOS longs → `ts div 1000`
    *    (truncating division, matching the `div` expression), NTZ/UTC
    *    micros used as-is (identical internal longs).
    *  - count: every row, null value included (`count(lit(1))`).
    *  - sum: [[graft.queries.Relational.dsum]]'s fixed-point form per row
    *    (`floor(v·10⁴ + 0.5).toLong`, exact for the 2-decimal corpus),
    *    summed as longs (order-independent), descaled+rounded ONCE in the
    *    final tiny aggregate — so the kernel hash-matches q11's oracle
    *    bit-for-bit (driver-gated as q100 on q11's own DuckDB SQL).
    *  - null groups: a null ts rows under a null day, a null event_type
    *    under a null type (both per-row-checked only in batches whose
    *    vectors report `hasNull`); an all-null-value group sums to NULL,
    *    tracked by a has-value accumulator per group.
    *
    * Shape at 100 TB: ONE single-stage job — the scan's own partitioning,
    * a per-partition bounded accumulator (days × event types packed into a
    * primitive open-addressing [[graft.operators.LongAccMap]]), partials
    * merged on the driver (bounded state, the LrGradient pattern — the
    * group space doesn't grow with rows). What changes per row: three
    * primitive vector reads + one map probe, with no ColumnarToRow
    * materialization, no UnsafeRow writes, no expression eval per row;
    * event_type is read as parquet DICTIONARY IDS where encoded (one int
    * read + array index per row, strings decoded once per batch id).
    */
  def q11ColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DateType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    val ev = q11KernelInput(spark, dir)
    val (batches, schema) = graft.operators.ColumnarScan.batches(ev)
    val tsIdx = schema.fieldIndex("ts")
    val etIdx = schema.fieldIndex("event_type")
    val vIdx = schema.fieldIndex("value")
    // NANOS generations scan as LongType and need the micros truncation;
    // TIMESTAMP/NTZ generations are already internal micros (UTC contract)
    val nanosDiv: Long = schema(tsIdx).dataType match {
      case LongType => 1000L
      case TimestampType | TimestampNTZType => 1L
      case other => throw new KernelRefusal(
        s"q11ColumnarKernel: events.ts scanned as ${other.sql} — extend " +
        "the kernel alongside Tables.events (same drift contract).")
    }
    val NullDay: Long = Int.MinValue.toLong  // epoch days span ±~107M only
    val NullType = 0xFFFFF                   // 2^20-1; interned ids are tiny
    val partials = batches.mapPartitions { it =>
      val et = new graft.operators.StringIdInterner
      val acc = new graft.operators.LongAccMap(3) // cnt, fixsum, hasValue
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val tsV = b.column(tsIdx); val etV = b.column(etIdx); val vV = b.column(vIdx)
        val anyNull = tsV.hasNull || etV.hasNull || vV.hasNull
        et.bind(etV)
        var i = 0
        while (i < n) {
          val day =
            if (anyNull && tsV.isNullAt(i)) NullDay
            else Math.floorDiv(tsV.getLong(i) / nanosDiv, 86400000000L)
          val id = if (anyNull && etV.isNullAt(i)) NullType else et.idAt(i)
          val base = acc.slot((day << 20) | id.toLong)
          val vals = acc.values
          vals(base) += 1L
          if (!(anyNull && vV.isNullAt(i))) {
            vals(base + 1) += Math.floor(vV.getDouble(i) * 10000.0 + 0.5).toLong
            vals(base + 2) = 1L
          }
          i += 1
        }
      }
      // type ids are PER-PARTITION — decode them before the partials leave
      val out = Vector.newBuilder[(Long, String, Long, Long, Long)]
      acc.foreachEntry { (key, base) =>
        val day = key >> 20
        val id = (key & 0xFFFFF).toInt
        val v = acc.values
        out += ((day, if (id == NullType) null else et.name(id),
          v(base), v(base + 1), v(base + 2)))
      }
      out.result().iterator
    }
    // Final merge on the DRIVER, not a shuffle: the partial set is bounded
    // by partitions × days × event types (the LrGradient bounded-state
    // argument — kilobytes at any corpus size, because days and types don't
    // grow with rows). A distributed groupBy here would spend ~0.2 s of
    // pure task scheduling (32 reduce tasks + the orderBy's range-sampling
    // job) to merge a few thousand 40-byte tuples — measured in the r12
    // scaled A/B as the LARGEST single cost of the fresh-query path. The
    // merge replays the declarative finale EXACTLY: long sums (order-
    // independent), one descale+HALF_UP round (java BigDecimal — verified
    // equal to Spark's round(double,2) on adversarial values), NULL when no
    // non-null value contributed, and (d, event_type) ASC NULLS FIRST with
    // UTF8String binary string order. NOTE the returned frame is already
    // materialized (a LocalTableScan) — the kernel runs its one job HERE.
    val merged = new java.util.HashMap[(Long, String), Array[Long]]()
    partials.collect().foreach { case (day, name, c, fix, hasVal) =>
      val a = merged.computeIfAbsent((day, name), _ => new Array[Long](3))
      a(0) += c; a(1) += fix; a(2) |= hasVal
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[((Long, String), Row)]
    merged.forEach { (k, v) =>
      val s =
        if (v(2) == 0L) null
        else java.lang.Double.valueOf(java.math.BigDecimal.valueOf(v(1).toDouble / 10000.0)
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
      rows += ((k, Row(
        if (k._1 == NullDay) null else java.time.LocalDate.ofEpochDay(k._1),
        k._2, v(0), s)))
    }
    val sorted = rows.sortWith { case (((da, ta), _), ((db, tb), _)) =>
      if (da != db) da < db  // NullDay == Long.MinValue-ish sorts first
      else if (ta == null || tb == null) ta == null && tb != null
      else UTF8String.fromString(ta).compareTo(UTF8String.fromString(tb)) < 0
    }.map(_._2)
    val outSchema = StructType(Seq(
      StructField("d", DateType, nullable = true),
      StructField("event_type", StringType, nullable = true),
      StructField("c", LongType, nullable = false),
      StructField("s", org.apache.spark.sql.types.DoubleType, nullable = true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(sorted.asJava, outSchema)
  }

  /** Q12 sessionization, 30-min inactivity gap — counted by the
    * INTERVAL-MERGE AGGREGATE [[graft.functions.SessionCount]], not a lag
    * window: "same session" is the transitive closure of the ≤30-min-gap
    * relation, so sessions per user == merged intervals per user, and the
    * whole query is two hash aggregations (user → interval state → count,
    * then one global sum) with no per-partition sort and no WindowExec.
    * The lag-window form is kept as [[q12LagWindow]] (EventsSpec asserts
    * equality); the running-sum session-id pipeline is only needed when
    * ids feed downstream work — that operator is covered by q22.
    *
    * Gap semantics (strictly greater than 30 min starts a session) match
    * the lag form and the oracle exactly, on integer microseconds.
    */
  def q12(spark: SparkSession, dir: String): DataFrame =
    q12From(Tables.events(spark, dir))

  /** [[q12]] over any events-shaped frame — the seam the pay-once bucketed
    * layout enters through (Layouts/BucketedJoinSpec feed the
    * user_id-bucketed table here; on it the groupBy runs as ONE
    * exchange-free aggregation stage).
    */
  def q12From(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val sessions = GraftColumnBridge.column(graft.functions.SessionCountRows(
      GraftColumnBridge.expression(unix_micros(col("ts"))),
      1800L * 1000000L).toAggregateExpression())
    ev.select(col("user_id"), col("ts"))
      .groupBy(col("user_id"))
      .agg(sessions.as("ns"))
      .agg(sum("ns").as("n_sessions"))
  }

  /** The lag-window spelling of q12 — retained as the independent semantic
    * oracle for the aggregate form (event-time ties broken by event_id so
    * the lag is deterministic; the session count equals the count of
    * session STARTS, so one lag pass + one agg delivers it).
    */
  def q12LagWindow(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .withColumn("ns",
        when(col("prev").isNull ||
          col("ts").cast("double") - col("prev").cast("double") > 1800.0, 1L)
          .otherwise(0L))
      .agg(sum("ns").as("n_sessions"))
  }

  /** Q12s the native streaming operator: session_window with a 30-min gap,
    * in batch mode. No DuckDB oracle (gap-boundary semantics differ by
    * engine); cross-checked against q12 in the test suite instead.
    */
  def q12s(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_sessions"))

  /** Q13 lag deltas per event type: gap to the previous event of the SAME
    * user, averaged per event type. Timestamp arithmetic on microsecond-
    * precision doubles (not unix_timestamp, which truncates to seconds).
    */
  def q13(spark: SparkSession, dir: String): DataFrame =
    q13From(Tables.events(spark, dir))

  /** [[q13]] over any events-shaped frame. On the user_id-bucketed,
    * (user_id, ts, event_id)-sorted layout the lag Window sits DIRECTLY on
    * the scan — no exchange, no sort (the r11 verdict's documented
    * sort-floor, pre-paid at write time); measured in
    * tools/bench_bucketed_latest.json@ec375fe.
    * [[q13FromSortedKernel]] goes one step further on that layout and
    * removes WindowExec itself.
    */
  def q13From(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("event_type"), col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      // integer microsecond gaps: exact in both engines (DuckDB epoch_us),
      // summed exactly, divided once — no float-order drift in the average
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev")))
      .groupBy("event_type")
      .agg(round(sum(col("gap_us")).cast("double") / lit(1000000.0) / count(lit(1)), 4).as("avg_gap_s"))
      .orderBy("event_type")
  }

  /** [[q13]] as a single forward pass over an ALREADY laid-out frame — the
    * bucketed-layout sibling of [[q13From]] for inputs where every user's
    * rows sit wholly inside one partition, sorted by (user_id, ts,
    * event_id) with non-null keys (exactly what the pay-once
    * `bucketBy(user_id).sortBy(user_id, ts, event_id)` table provides).
    *
    * Why it exists: on that layout [[q13From]]'s lag Window already plans
    * with zero exchange and zero sort, yet WindowExec still buffers every
    * row through its frame machinery (row container + bound evaluation per
    * row) just to hand back the previous ts — measured at ~3× the bare
    * scan cost (tools/bench_weak_decomp_latest.json@ec375fe: the operator term is
    * ~100% of q13's marginal). With the order guaranteed by the layout,
    * the lag is two locals in a forward scan: this kernel reads the
    * codegen'd projection's rows directly (the [[graft.functions.LrGradient]]
    * InternalRow pattern — no per-row encoder allocation), accumulates
    * exact Long microsecond gap sums per event_type, and emits one partial
    * row per (partition, event_type).
    *
    * Exactness: gap sums are integer micros (order-independent); the final
    * reduction replays [[q13From]]'s double ops in the same order
    * (sum → cast double → /1e6 → /count), so results hash-match — pinned
    * by row-parity asserts in BucketedJoinSpec.
    *
    * Scale: one map stage over the bucketed scan + a shuffle of
    * |partitions|×|event types| 24-byte partial rows. The same shape a
    * 1000-executor run wants: the pre-sorted layout is the pay-once cost,
    * every q13 after it is a single data pass with no window state.
    *
    * A violated precondition fails loudly, never silently: every kernel
    * in this family validates ascending (user_id, ts) as it scans and
    * throws on the first descent (see [[badLayout]]); stage inputs with
    * [[graft.Layouts.stageEventsByUser]].
    */
  def q13FromSortedKernel(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val proj = ev.select(col("event_type"), col("user_id"), col("ts"))
    val partials = proj.queryExecution.toRdd.mapPartitions { it =>
      // event_type cardinality is tiny; key lookups use the row's transient
      // UTF8String (content hash/equals), cloned only on first insert —
      // zero per-row allocation on the hot path
      val acc = new java.util.HashMap[UTF8String, Array[Long]]()
      var prevUser = 0L
      var prevTs = 0L
      var has = false
      while (it.hasNext) {
        val r = it.next()
        val u = r.getLong(1)
        val t = r.getLong(2) // TimestampType internal rep IS epoch micros
        if (has && (u < prevUser || (u == prevUser && t < prevTs)))
          badLayout("q13FromSortedKernel")
        if (has && u == prevUser) {
          val et = r.getUTF8String(0)
          var a = acc.get(et)
          if (a == null) { a = new Array[Long](2); acc.put(et.clone(), a) }
          a(0) += t - prevTs
          a(1) += 1L
        }
        prevUser = u; prevTs = t; has = true
      }
      val out = Vector.newBuilder[Row]
      acc.forEach((k, v) => out += Row(k.toString, v(0), v(1)))
      out.result().iterator
    }
    val schema = StructType(Seq(
      StructField("event_type", StringType, nullable = false),
      StructField("gap_us", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    ev.sparkSession.createDataFrame(partials, schema)
      .groupBy("event_type")
      .agg(round(sum(col("gap_us")).cast("double") / lit(1000000.0) / sum(col("cnt")), 4).as("avg_gap_s"))
      .orderBy("event_type")
  }

  /** [[q12]] as a single forward pass over the sorted layout — same
    * precondition and rationale as [[q13FromSortedKernel]]. With every
    * user's rows contiguous and ts-ordered, sessionization is a counter:
    * +1 on each user change, +1 on each strictly-greater-than-gap jump
    * (exactly [[graft.functions.SessionCount]]'s boundary semantics, ties
    * at the gap merge). One partial long per partition; integer math
    * end-to-end so the total is trivially exact.
    */
  def q12FromSortedKernel(ev: DataFrame, gapMicros: Long = 1800L * 1000000L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val proj = ev.select(col("user_id"), col("ts"))
    val partials = proj.queryExecution.toRdd.mapPartitions { it =>
      var prevUser = 0L
      var prevTs = 0L
      var has = false
      var sessions = 0L
      while (it.hasNext) {
        val r = it.next()
        val u = r.getLong(0)
        val t = r.getLong(1)
        if (has && (u < prevUser || (u == prevUser && t < prevTs)))
          badLayout("q12FromSortedKernel")
        if (!has || u != prevUser || t - prevTs > gapMicros) sessions += 1L
        prevUser = u; prevTs = t; has = true
      }
      if (has) Iterator.single(Row(sessions)) else Iterator.empty
    }
    val schema = StructType(Seq(StructField("ns", LongType, nullable = false)))
    ev.sparkSession.createDataFrame(partials, schema)
      .agg(sum("ns").as("n_sessions"))
  }

  /** [[q13]]'s sorted-layout kernel on the COLUMNAR seam — the
    * [[q13FromSortedKernel]] forward pass consuming the bucketed scan's
    * own ColumnarBatches ([[graft.operators.ColumnarScan]]): primitive
    * user_id/ts reads, event_type as dictionary ids, exact Long gap sums
    * per type, partials merged on the driver (bounded by event types ×
    * partitions). Same precondition (bucket-aligned, (user_id, ts)-sorted
    * input — stage with [[graft.Layouts.eventsByUserCached]]), same loud
    * guards: ascending order validated per row, null user_id/ts rejected
    * (the layout sorts on them; a null there means the input is not the
    * staged table). Driver-gated as q102 on q13's own oracle.
    *
    * NOTE like q100/q101 the returned frame is already materialized — the
    * kernel runs its single-stage job here, skipping the fresh-query
    * shuffle/sort scheduling the r12 scaled A/B measured at ~0.2 s.
    */
  def q13FromColumnarSortedKernel(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    val proj = ev.select(col("user_id"), col("ts"), col("event_type"))
    val (batches, schema) = graft.operators.ColumnarScan.batches(proj)
    val uIdx = schema.fieldIndex("user_id")
    val tIdx = schema.fieldIndex("ts")
    val eIdx = schema.fieldIndex("event_type")
    schema(tIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case other => throw new KernelRefusal(
        s"q13FromColumnarSortedKernel: staged ts arrived as ${other.sql}; " +
        "stage through Layouts (Tables.events normalizes to TIMESTAMP).")
    }
    val partials = batches.mapPartitions { it =>
      val et = new graft.operators.StringIdInterner
      var sums = new Array[Long](16)
      var cnts = new Array[Long](16)
      var nullSum = 0L; var nullCnt = 0L
      var prevUser = 0L; var prevTs = 0L; var has = false
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val uV = b.column(uIdx); val tV = b.column(tIdx); val eV = b.column(eIdx)
        if (uV.hasNull || tV.hasNull) badLayout("q13FromColumnarSortedKernel")
        val etNull = eV.hasNull
        et.bind(eV)
        var i = 0
        while (i < n) {
          val u = uV.getLong(i)
          val t = tV.getLong(i)
          if (has && (u < prevUser || (u == prevUser && t < prevTs)))
            badLayout("q13FromColumnarSortedKernel")
          if (has && u == prevUser) {
            if (etNull && eV.isNullAt(i)) { nullSum += t - prevTs; nullCnt += 1L }
            else {
              val id = et.idAt(i)
              if (id >= sums.length) {
                sums = java.util.Arrays.copyOf(sums, sums.length * 2)
                cnts = java.util.Arrays.copyOf(cnts, cnts.length * 2)
              }
              sums(id) += t - prevTs
              cnts(id) += 1L
            }
          }
          prevUser = u; prevTs = t; has = true
          i += 1
        }
      }
      val out = Vector.newBuilder[(String, Long, Long)]
      var id = 0
      while (id < et.size) {
        if (cnts(id) > 0L) out += ((et.name(id), sums(id), cnts(id)))
        id += 1
      }
      if (nullCnt > 0L) out += ((null, nullSum, nullCnt))
      out.result().iterator
    }
    // driver finale replaying q13From's ops in order:
    // round(sum(gap_us)::double / 1e6 / count, 4), ASC NULLS FIRST
    val merged = new java.util.HashMap[String, Array[Long]]()
    partials.collect().foreach { case (name, s, c) =>
      val a = merged.computeIfAbsent(name, _ => new Array[Long](2))
      a(0) += s; a(1) += c
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Row)]
    merged.forEach { (name, a) =>
      val avg = java.math.BigDecimal.valueOf(a(0).toDouble / 1000000.0 / a(1))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      rows += ((name, Row(name, avg)))
    }
    val sorted = rows.sortWith { case ((na, _), (nb, _)) =>
      if (na == null || nb == null) na == null && nb != null
      else UTF8String.fromString(na).compareTo(UTF8String.fromString(nb)) < 0
    }.map(_._2)
    val outSchema = StructType(Seq(
      StructField("event_type", StringType, nullable = true),
      StructField("avg_gap_s", DoubleType, nullable = true)))
    import scala.jdk.CollectionConverters._
    ev.sparkSession.createDataFrame(sorted.asJava, outSchema)
  }

  /** [[q12]]'s sorted-layout kernel on the COLUMNAR seam — session
    * counting as two primitive vector reads + one compare per row, the
    * [[q12FromSortedKernel]] counter over ColumnarBatches. Same
    * precondition and guards as [[q13FromColumnarSortedKernel]];
    * driver-gated as q103 on q12's own oracle. Returns a materialized
    * one-row frame (sum of per-partition counts; NULL on an empty corpus,
    * matching `sum` over zero rows).
    */
  def q12FromColumnarSortedKernel(ev: DataFrame, gapMicros: Long = 1800L * 1000000L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType, TimestampType}
    val proj = ev.select(col("user_id"), col("ts"))
    val (batches, schema) = graft.operators.ColumnarScan.batches(proj)
    val uIdx = schema.fieldIndex("user_id")
    val tIdx = schema.fieldIndex("ts")
    schema(tIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case other => throw new KernelRefusal(
        s"q12FromColumnarSortedKernel: staged ts arrived as ${other.sql}; " +
        "stage through Layouts (Tables.events normalizes to TIMESTAMP).")
    }
    val partials = batches.mapPartitions { it =>
      var prevUser = 0L; var prevTs = 0L; var has = false
      var sessions = 0L
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val uV = b.column(uIdx); val tV = b.column(tIdx)
        if (uV.hasNull || tV.hasNull) badLayout("q12FromColumnarSortedKernel")
        var i = 0
        while (i < n) {
          val u = uV.getLong(i)
          val t = tV.getLong(i)
          if (has && (u < prevUser || (u == prevUser && t < prevTs)))
            badLayout("q12FromColumnarSortedKernel")
          if (!has || u != prevUser || t - prevTs > gapMicros) sessions += 1L
          prevUser = u; prevTs = t; has = true
          i += 1
        }
      }
      if (has) Iterator.single(sessions) else Iterator.empty
    }
    val counts = partials.collect()
    val total: Any = if (counts.isEmpty) null else java.lang.Long.valueOf(counts.sum)
    val outSchema = StructType(Seq(StructField("n_sessions", LongType, nullable = true)))
    graft.operators.KernelFinale.primitiveRows(ev.sparkSession, outSchema,
      Seq(Array[Any](total)))
  }

  /** [[q21]] as a single forward pass over the sorted layout — the as-of
    * JOIN itself disappears. Same precondition as [[q13FromSortedKernel]];
    * here the payoff is structural, not just constant-factor: with each
    * user's errors and purchases interleaved in (ts, event_id) order, the
    * "most recent prior purchase" is a running variable, so the
    * equi-join + ts-band + per-error rank machinery of [[q21From]] (and
    * the broadcast-vs-SMJ tradeoff it forces — the layout's one recorded
    * negative at sf0.1) reduces to one scan emitting matches as it goes.
    * The classic sorted-merge as-of: at 100 TB this reads each side once
    * with zero join state beyond two locals per user.
    *
    * Tie semantics replicated exactly: a purchase at the SAME ts as the
    * error does not qualify (strict ts > p_ts), and among purchases at the
    * same qualifying ts the highest event_id wins — purchases seen at the
    * current ts are held in a candidate slot and folded into the running
    * answer only when ts advances.
    */
  def q21FromSortedKernel(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val proj = ev
      .filter(col("event_type").isin("error", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val errTag = org.apache.spark.unsafe.types.UTF8String.fromString("error")
    val matches = proj.queryExecution.toRdd.mapPartitions { it =>
      new Iterator[Row] {
        private var prevUser = 0L
        private var hasUser = false
        private var curTs = 0L
        private var lastP = 0L; private var hasLastP = false
        private var curP = 0L; private var hasCurP = false
        private var nextRow: Row = null
        @annotation.tailrec
        private def advance(): Unit =
          if (it.hasNext) {
            val r = it.next()
            val u = r.getLong(0)
            val t = r.getLong(1)
            val eid = r.getLong(2)
            if (hasUser && (u < prevUser || (u == prevUser && t < curTs)))
              badLayout("q21FromSortedKernel")
            if (!hasUser || u != prevUser) {
              hasUser = true; prevUser = u; curTs = t
              hasLastP = false; hasCurP = false
            } else if (t != curTs) {
              if (hasCurP) { lastP = curP; hasLastP = true; hasCurP = false }
              curTs = t
            }
            if (r.getUTF8String(3).equals(errTag)) {
              nextRow = Row(eid, if (hasLastP) lastP else null)
            } else {
              curP = eid; hasCurP = true
              advance()
            }
          } else nextRow = null
        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): Row = {
          val out = nextRow; advance(); out
        }
      }
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("prior_purchase", LongType, nullable = true)))
    ev.sparkSession.createDataFrame(matches, schema)
      .orderBy("event_id")
  }

  /** [[q71]] as a single forward pass over the sorted layout — same
    * precondition and rationale as [[q13FromSortedKernel]]. The lag here
    * carries a STRING (previous event_type), so the kernel interns each
    * type to a dense int once per (partition, type) and tracks the lag as
    * that int — zero per-row allocation; transition counts live in a
    * packed-(prev,next)-keyed map of longs. Partials are
    * |partitions|×|types|² tiny rows; the share window runs over the
    * aggregated |types|² matrix exactly as [[q71From]] does, replaying its
    * double ops in the same order so results hash-match.
    */
  def q71FromSortedKernel(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val proj = ev.select(col("user_id"), col("event_type"))
    val partials = proj.queryExecution.toRdd.mapPartitions { it =>
      val intern = new java.util.HashMap[UTF8String, Integer]()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      // dense |types|² count matrix (row-major, capacity-grown on the rare
      // new-type event) — one array increment per row, no per-row boxing
      var cap = 16
      var counts = new Array[Long](cap * cap)
      var prevUser = 0L
      var prevType = 0
      var has = false
      while (it.hasNext) {
        val r = it.next()
        val u = r.getLong(0)
        if (has && u < prevUser)
          badLayout("q71FromSortedKernel (user order; ts order is not " +
            "observable in its 2-column projection)")
        val et = r.getUTF8String(1)
        var idxBox = intern.get(et)
        if (idxBox == null) {
          idxBox = Integer.valueOf(names.length)
          intern.put(et.clone(), idxBox)
          names += et.toString
          if (names.length > cap) {
            val newCap = cap * 2
            val grown = new Array[Long](newCap * newCap)
            var i = 0
            while (i < cap) {
              System.arraycopy(counts, i * cap, grown, i * newCap, cap)
              i += 1
            }
            cap = newCap; counts = grown
          }
        }
        val idx = idxBox.intValue()
        if (has && u == prevUser) counts(prevType * cap + idx) += 1L
        prevUser = u; prevType = idx; has = true
      }
      val out = Vector.newBuilder[Row]
      var p = 0
      while (p < names.length) {
        var x = 0
        while (x < names.length) {
          val c = counts(p * cap + x)
          if (c != 0L) out += Row(names(p), names(x), c)
          x += 1
        }
        p += 1
      }
      out.result().iterator
    }
    val schema = StructType(Seq(
      StructField("prv", StringType, nullable = false),
      StructField("nxt", StringType, nullable = false),
      StructField("c", LongType, nullable = false)))
    ev.sparkSession.createDataFrame(partials, schema)
      .groupBy("prv", "nxt")
      .agg(sum("c").as("c"))
      .withColumn("share",
        round(col("c").cast("double") / sum(col("c")).over(Window.partitionBy("prv")), 4))
      .orderBy("prv", "nxt")
  }

  /** [[q51]] as a single forward pass over the sorted layout — same
    * precondition as [[q13FromSortedKernel]]. The funnel's three chained
    * whole-partition conditional-min windows (each a full pass through
    * WindowExec's frame machinery) collapse to three booleans per user:
    * with rows in ts order, the first view IS min(view ts), the first
    * click strictly after it IS the min qualifying click, and so on —
    * strict `>` means a click at the view's exact ts is skipped in both
    * forms. Each partition emits ONE 3-long partial row (users counted at
    * user-boundary), so the post-scan shuffle is |partitions| rows of 24
    * bytes — nothing at any scale.
    */
  def q51FromSortedKernel(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val proj = ev
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"))
    val viewTag = org.apache.spark.unsafe.types.UTF8String.fromString("view")
    val clickTag = org.apache.spark.unsafe.types.UTF8String.fromString("click")
    val partials = proj.queryExecution.toRdd.mapPartitions { it =>
      var prevUser = 0L
      var prevTs = 0L
      var has = false
      var vts = 0L; var vSet = false
      var cts = 0L; var cSet = false
      var pSet = false
      var nView = 0L; var nClick = 0L; var nFunnel = 0L
      def closeUser(): Unit = {
        if (vSet) nView += 1L
        if (cSet) nClick += 1L
        if (pSet) nFunnel += 1L
        vSet = false; cSet = false; pSet = false
      }
      while (it.hasNext) {
        val r = it.next()
        val u = r.getLong(0)
        val t = r.getLong(1)
        if (has && (u < prevUser || (u == prevUser && t < prevTs)))
          badLayout("q51FromSortedKernel")
        if (has && u != prevUser) closeUser()
        val et = r.getUTF8String(2)
        if (et.equals(viewTag)) {
          if (!vSet) { vSet = true; vts = t }
        } else if (et.equals(clickTag)) {
          if (vSet && !cSet && t > vts) { cSet = true; cts = t }
        } else { // purchase (projection admits only the three types)
          if (cSet && !pSet && t > cts) pSet = true
        }
        prevUser = u; prevTs = t; has = true
      }
      if (has) { closeUser(); Iterator.single(Row(nView, nClick, nFunnel)) }
      else Iterator.empty
    }
    val schema = StructType(Seq(
      StructField("nv", LongType, nullable = false),
      StructField("nc", LongType, nullable = false),
      StructField("np", LongType, nullable = false)))
    // coalesce to 0: on an input with no view/click/purchase rows at all,
    // the declarative form's count() aggregates yield (0,0,0) while a bare
    // sum over zero partial rows would yield NULLs — the hash-match
    // contract covers the empty corpus too
    ev.sparkSession.createDataFrame(partials, schema)
      .agg(coalesce(sum("nv"), lit(0L)).as("n_view"),
        coalesce(sum("nc"), lit(0L)).as("n_view_click"),
        coalesce(sum("np"), lit(0L)).as("n_funnel"))
  }

  /** [[q70]] as a single forward pass over the sorted layout — same
    * precondition as [[q13FromSortedKernel]], plus a UTC session time zone
    * (asserted — week truncation is TZ-dependent and the kernel computes
    * it in integer day arithmetic: epoch day → Monday-aligned week start
    * via `d - ((d+3) mod 7)`, 1970-01-01 being a Thursday). The
    * declarative form's event-count-proportional distinct + min-week
    * window vanish: per user the ts order makes week starts
    * NON-DECREASING, so "distinct week" is one comparison against the
    * previous week and "cohort" is simply the first week seen. Partials
    * are a per-partition (cohort, offset) count map — bounded by
    * (#calendar weeks)², not by events.
    */
  def q70FromSortedKernel(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    require(ev.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
      "q70FromSortedKernel computes Monday week-trunc in UTC day arithmetic")
    val proj = ev.select(col("user_id"), col("ts"))
    val partials = proj.queryExecution.toRdd.mapPartitions { it =>
      val acc = new java.util.HashMap[java.lang.Long, Array[Long]]()
      var prevUser = 0L
      var prevTs = 0L
      var has = false
      var cohort = 0L
      var prevWk = Long.MinValue
      while (it.hasNext) {
        val r = it.next()
        val u = r.getLong(0)
        val t = r.getLong(1)
        if (has && (u < prevUser || (u == prevUser && t < prevTs)))
          badLayout("q70FromSortedKernel")
        prevTs = t
        val d = Math.floorDiv(t, 86400000000L)
        val wk = d - Math.floorMod(d + 3L, 7L)
        if (!has || u != prevUser) {
          cohort = wk; prevWk = Long.MinValue
        }
        if (wk != prevWk) {
          val key = java.lang.Long.valueOf((cohort << 24) | ((wk - cohort) / 7L))
          var a = acc.get(key)
          if (a == null) { a = new Array[Long](1); acc.put(key, a) }
          a(0) += 1L
          prevWk = wk
        }
        prevUser = u; has = true
      }
      val out = Vector.newBuilder[Row]
      acc.forEach((k, v) =>
        out += Row((k.longValue() >> 24).toInt, k.longValue() & 0xffffffL, v(0)))
      out.result().iterator
    }
    val schema = StructType(Seq(
      StructField("cohort_days", IntegerType, nullable = false),
      StructField("week_offset", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    ev.sparkSession.createDataFrame(partials, schema)
      .groupBy("cohort_days", "week_offset")
      .agg(sum("n").as("n_users"))
      .select(expr("date_from_unix_date(cohort_days)").as("cohort"),
        col("week_offset"), col("n_users"))
      .orderBy("cohort", "week_offset")
  }

  /** Q21 AS-OF join: each 'error' event → most recent prior 'purchase' by
    * the same user, unmatched errors preserved (left as-of).
    *
    * Spark has no native ASOF join; plan: equi-join on user_id with the
    * ts-band predicate, then keep row_number()==1 per left row ordered by
    * right ts desc (event_id desc as deterministic tiebreak).
    *
    * Scale: the join shuffles both sides on user_id once; the window reuses
    * that partitioning (partition key user_id ⊂ window key event_id — we
    * partition the window by event_id which hash-distributes fine since
    * event_id is unique; Catalyst inserts one extra exchange). For the
    * 100 TB path with heavy per-user fan-out, the union+sort merge variant
    * (tag streams, sort by (user_id, ts), last-purchase carry-forward via
    * a running max window) does it with a single sort — implemented as
    * `asofUnionWindow` below and property-tested equal to this one.
    */
  def q21(spark: SparkSession, dir: String): DataFrame =
    q21From(Tables.events(spark, dir))

  /** [[q21]] over any events-shaped frame. On the user_id-bucketed sorted
    * layout BOTH join inputs derive from the same bucketed scan, so the
    * user_id SMJ runs with no exchange and no sort on either side (alias-
    * aware partitioning propagates through the rename); the event_id
    * window exchange that ranks candidates is intrinsic to the join form
    * and stays.
    */
  def q21From(ev: DataFrame): DataFrame = {
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
        col("ts").as("p_ts"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("p_ts").desc, col("p_event_id").desc)
    e.join(p, col("user_id") === col("p_user_id") && col("ts") > col("p_ts"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("p_event_id").as("prior_purchase"))
      .orderBy("event_id")
  }

  /** q51 conversion funnel: view → later click → later purchase per user,
    * on strict timestamps (first view, first click after it, first purchase
    * after that) so the stage definition is engine-independent — no
    * row-order tiebreaks, just min-ts chains.
    *
    * Plan: three chained whole-partition conditional-min windows over ONE
    * hash partitioning on user_id (Catalyst reuses the exchange for all
    * three and for the per-user collapse) — vs the naive three scans +
    * three joins the SQL formulation implies. At 100 TB the funnel costs
    * one shuffle of (user_id, ts, event_type), nothing else.
    */
  def q51(spark: SparkSession, dir: String): DataFrame =
    q51From(Tables.events(spark, dir))

  /** [[q51]] over any events-shaped frame (bucketed-layout seam: the
    * whole-partition windows need only clustering on user_id, which the
    * bucketed scan provides exchange-free; the sort they need is on
    * user_id alone, satisfied by the layout's sort prefix).
    */
  def q51From(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    ev.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("vts", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("cts", min(when(col("event_type") === "click" && col("ts") > col("vts"), col("ts"))).over(w))
      .withColumn("pts", min(when(col("event_type") === "purchase" && col("ts") > col("cts"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("vts")).as("v"), max(col("cts")).as("c"), max(col("pts")).as("p"))
      .agg(count(col("v")).as("n_view"), count(col("c")).as("n_view_click"),
        count(col("p")).as("n_funnel"))
  }

  /** q55 date-spine gap fill: per calendar day, how many users were
    * mid-activity-span but INACTIVE that day — the missing-data census a
    * pipeline runs before imputation. The spine is generated in-plan
    * (`sequence` over each user's [first, last] activity dates), so days
    * with zero coverage exist as rows — a plain groupBy can never produce
    * them.
    *
    * Join-free shape (the SQL formulation's spine-vs-activity anti-join is
    * a self-join on derived lineage — fragile to resolve and a second
    * shuffle): collect each user's distinct active days into one set
    * (collect_set dedups WITH map-side partial aggregation), then each
    * user's gap days are simply array_except(sequence(min, max), days) —
    * a per-row generator, no join at all. Shuffles: one on user_id (values
    * bounded by the calendar horizon, not the event count) + one tiny one
    * on the output day key.
    */
  def q55(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id")
      .agg(collect_set(col("d")).as("days"))
      .select(explode(array_except(
        sequence(array_min(col("days")), array_max(col("days")), expr("INTERVAL 1 DAY")),
        col("days"))).as("sd"))
      .groupBy(col("sd"))
      .agg(count(lit(1)).as("n_gapped"))
      .orderBy("sd")

  /** q57 arg-extremum aggregates: per event type, WHICH event carried the
    * max/min value (max_by/min_by — DuckDB arg_max/arg_min), plus the max
    * itself. Single hash agg, no window, no join — the cheap way to answer
    * "which row attains the extreme" that is otherwise a rank-window pass.
    * Ties on value are broken by event_id through a lexicographic STRUCT
    * ordering key (value exact at 2 dp via round(v·100), then ±event_id),
    * so determinism holds for ANY id range — the earlier integer composite
    * key (round(v·100)·10¹⁰ + id) silently collided for ids ≥ 10¹⁰.
    * max_by prefers the LARGER id, min_by the larger id too (the −id
    * field), matching DuckDB's arg_max/arg_min tiebreak in the oracle.
    */
  def q57(spark: SparkSession, dir: String): DataFrame =
    argExtremes(Tables.events(spark, dir))

  /** The q57 aggregation over any (event_type, event_id, value) frame —
    * split out so the boundary-id spec can feed ids ≥ 10¹⁰ (where the old
    * integer composite key collided) without a table detour.
    */
  def argExtremes(df: DataFrame): DataFrame = {
    val vk = round(col("value") * 100).cast("long")
    df.groupBy(col("event_type"))
      .agg(
        max_by(col("event_id"), struct(vk.as("v"), col("event_id").as("t"))).as("emax"),
        min_by(col("event_id"), struct(vk.as("v"), (-col("event_id")).as("t"))).as("emin"),
        round(max(col("value")), 2).as("vmax"))
      .orderBy("event_type")
  }

  /** q61: fixed-width histogram of event values per event type — the
    * distribution profile run before choosing normalization or outlier
    * cuts. Bucket = floor(value/50): a plain integer projection, so the
    * whole query is one partial+final hash agg over (type, bucket) — the
    * canonical linear-scale shape; bucket sums are fixed-point (×10⁴)
    * exact so the hash matches DuckDB at any partitioning.
    */
  def q61(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") / 50.0).cast("long").as("bucket"),
        col("value"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        Relational.dsum(col("value"), 4).as("sum_value"))
      .orderBy("event_type", "bucket")

  /** Single-sort as-of variant for the 100 TB path: union the tagged
    * streams, one shuffle+sort on (user_id, ts), carry the latest purchase
    * forward with a running `max_by`-style window, keep error rows.
    * Exactly one exchange; no join fan-out on hot users.
    */
  def asofUnionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tagged = ev.filter(col("event_type").isin("error", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    // As-of is strictly earlier (e.ts > p.ts), so at equal ts the purchase
    // must NOT match. Sorting by (ts, event_type) puts 'error' before
    // 'purchase' at equal ts, and the [-inf, -1] frame then excludes
    // same-instant purchases from the carry-forward.
    val carry = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_type"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tagged
      .withColumn("p_id", when(col("event_type") === "purchase", col("event_id")))
      .withColumn("p_ts", when(col("event_type") === "purchase", col("ts")))
      .withColumn("last_p", max_by(col("p_id"), struct(col("p_ts"), col("p_id"))).over(carry))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("last_p").as("prior_purchase"))
      .orderBy("event_id")
  }

  /** q70: weekly retention cohorts — for each first-activity week (the
    * cohort), how many of its users were active k weeks later. THE
    * engagement table every analytics stack derives from raw events.
    * Shape: distinct (user, week) -> per-user min-week via ONE user_id
    * window (no self-join back to the events table) -> integer week
    * offset -> one keyed agg. Both shuffles are user-bounded; nothing is
    * proportional to raw event count past the first distinct. Week
    * truncation (Monday-aligned in both engines) is ns/us-insensitive,
    * so the oracle reads raw ts like q11.
    */
  def q70(spark: SparkSession, dir: String): DataFrame =
    q70From(Tables.events(spark, dir))

  /** [[q70]] over any events-shaped frame (bucketed-layout seam: the
    * (user_id, wk) distinct and the min-week window both need only
    * user_id clustering, so the heavy event-count-proportional exchange
    * disappears; the post-distinct sort is over user-bounded rows).
    */
  def q70From(ev: DataFrame): DataFrame = {
    val uw = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    uw.withColumn("cohort", min(col("wk")).over(Window.partitionBy("user_id")))
      .select(col("cohort"), expr("datediff(wk, cohort) div 7").cast("long").as("week_offset"))
      .groupBy("cohort", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "week_offset")
  }

  /** q71: event-type transition census — the first-order Markov table of
    * user behavior (prev type -> next type, count and within-prev share).
    * One lag window over the SAME (user_id, (ts, event_id)) order every
    * sessionization query uses — ties are impossible under the event_id
    * tiebreak, so the matrix is deterministic — then one keyed agg; the
    * share denominator is a window over the aggregated matrix itself
    * (|types|^2 rows, negligible at any corpus size). The heavy shuffle is
    * user_id-keyed and carries only (ts, event_id, event_type).
    */
  def q71(spark: SparkSession, dir: String): DataFrame =
    q71From(Tables.events(spark, dir))

  /** [[q71]] over any events-shaped frame (bucketed-layout seam: the lag
    * window's (user_id, ts, event_id) requirement is EXACTLY the layout's
    * bucketing + sort order — zero exchange, zero sort above the scan).
    */
  def q71From(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prv", lag(col("event_type"), 1).over(w))
      .filter(col("prv").isNotNull)
      .groupBy(col("prv"), col("event_type").as("nxt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("share",
        round(col("c").cast("double") / sum(col("c")).over(Window.partitionBy("prv")), 4))
      .orderBy("prv", "nxt")
  }

  /** Plan-shape violations of the pay-once user_id layout contract, from
    * an EXECUTED plan string: no Exchange re-partitions on user_id (the
    * bucketing pre-paid it), and — when the query's order requirement is a
    * prefix of the layout's (user_id, ts, event_id) sort — no Sort node
    * touches user_id either (the sortBy pre-paid that too). ONE definition
    * that BucketedJoinSpec calls, so the spec gates the plan the recorded
    * numbers (tools/bench_bucketed_latest.json@ec375fe) were measured on
    * (the ivfadc-gate pattern).
    *
    * `allowUserIdSort` covers q70's shape: its window runs over the
    * POST-distinct user-bounded rows whose scan order is destroyed by the
    * hash aggregate, so a (cheap, user-bounded) sort is the correct plan
    * there, not a layout violation.
    */
  /** Layout-violation failure for the `*FromSortedKernel` family. Both
    * supported inputs — the user_id-bucketed `sortBy(user_id, ts,
    * event_id)` table and an explicit `repartition(user_id)` +
    * `sortWithinPartitions(user_id, ts, event_id)` frame — deliver
    * ASCENDING (user_id, ts) within every partition, so any descent
    * observed mid-scan means the caller's frame is not the documented
    * layout; fail loudly instead of returning a silently wrong
    * single-pass answer. Costs two long compares per row (unmeasurable
    * against the scan). What this cannot see: a user split ACROSS
    * partitions (that invariant belongs to the bucketing/repartition
    * itself) and, where the kernel's projection drops event_id, the
    * tie-order among equal timestamps (pinned instead by
    * SortedKernelTieSpec).
    */
  private def badLayout(kernel: String): Nothing =
    throw new KernelRefusal(
      s"$kernel: input is not the (user_id, ts)-sorted layout — a " +
      "descending (user_id, ts) pair arrived within a partition. Feed the " +
      "user_id-bucketed sortBy(user_id, ts, event_id) table (one file per " +
      "bucket, spark.sql.legacy.bucketedTableScan.outputOrdering=true) or " +
      "repartition(user_id).sortWithinPartitions(user_id, ts, event_id) " +
      "first, or use the declarative form (q12From/q13From/...) which " +
      "lays out its own input.")

  private[graft] def userIdLayoutGateViolations(
      plan: String, allowUserIdSort: Boolean = false): Seq[String] = {
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    val sorts = plan.linesIterator.count(l =>
      l.contains("Sort [") && l.contains("user_id"))
    Seq(
      if (exchanges > 0) Some(s"$exchanges exchange(s) re-partition on user_id") else None,
      if (!allowUserIdSort && sorts > 0) Some(s"$sorts sort(s) touch user_id") else None
    ).flatten
  }
}
