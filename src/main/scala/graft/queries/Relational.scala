package graft.queries

import graft.Tables
import graft.operators.KernelRefusal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Relational operator suite (SURVEY.md §2.2 rows 1–31): scan, filter,
  * project, hash aggregate, joins (broadcast/semi/anti/range), windows,
  * rollup/cube/grouping-sets, sort/limit/top-k, set ops.
  *
  * Scale notes apply per query below; the common rules:
  *  - filters/projections are plain Column exprs → pushed into the parquet
  *    scan by Catalyst (verified via explain: PushedFilters/ReadSchema);
  *  - small dimension tables are broadcast explicitly;
  *  - fact-fact joins shuffle on their equi-keys, AQE handles skew.
  */
object Relational {

  /** The columnar kernels' pruned input/build frames, exported as the ONE
    * definition each kernel scans — [[graft.Exec]]'s plan-time validity
    * bounds check THESE, so the dispatcher can never validate a frame
    * that drifted from what the kernel actually reads (r13 review).
    */
  private[graft] def q1KernelInput(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q1KernelInput") {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_shipdate"))
    }
  private[graft] def q2KernelProbe(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q2KernelProbe") {
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    }
  /** The dominant build of q2's chain (orders ≫ customer ≫ nation). */
  private[graft] def q2KernelBuildBound(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q2KernelBuildBound") {
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    }
  private[graft] def q3KernelProbe(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q3KernelProbe") {
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
    }
  private[graft] def q3KernelBuild(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q3KernelBuild") {
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    }
  private[graft] def q4KernelProbe(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q4KernelProbe") {
      Tables.customer(s, d).select(col("c_custkey"))
    }
  private[graft] def q4KernelBuild(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q4KernelBuild") {
      Tables.orders(s, d).select(col("o_custkey"))
    }
  private[graft] val Q5KernelCols = Seq("o_custkey", "o_orderkey", "o_totalprice")
  private[graft] def q5KernelInput(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q5KernelInput") {
      Tables.orders(s, d).select(Q5KernelCols.map(col): _*)
    }
  private[graft] def q6KernelInput(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q6KernelInput") {
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }
  private[graft] def q7KernelInput(s: SparkSession, d: String): DataFrame =
    graft.operators.ColumnarScan.inputCached(s, d, "q7KernelInput") {
      Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus"), col("l_extendedprice"))

    }
  /** Q1 pricing summary: scan → pushed filter → partial+final hash agg.
    * At 100 TB: map-side combine reduces shuffle to (#groups × #tasks) rows;
    * the date filter prunes at the scan via parquet min/max stats.
    */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Relational.dsum(col("l_quantity"), 2).as("sum_qty"),
        Relational.dsum(col("l_extendedprice"), 2).as("sum_base"),
        Relational.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("sum_disc"),
        round(Relational.fsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** [[q1]] as a COLUMNAR-BATCH kernel (the [[graft.operators.ColumnarScan]]
    * seam; q11's q100 sibling on the lineitem family, driver-gated as q101
    * on q1's own DuckDB oracle). Everything is re-derived from raw scan
    * vectors:
    *
    *  - filter: `l_shipdate <= TIMESTAMP '1998-09-02'` — the predicate is
    *    still PUSHED to the scan (the df below carries it, so parquet
    *    row-group stats prune exactly as in q1's plan) and re-applied
    *    per row on the internal micros (NTZ and UTC micros agree under
    *    the engine's UTC-session contract); null shipdate drops the row.
    *  - group key: both single-char flag columns read as parquet
    *    dictionary ids ([[graft.operators.StringIdInterner]]), packed into
    *    one long.
    *  - sums: [[dsum]]'s fixed-point per-row form (`floor(v·10⁴+0.5)` as
    *    long), per-sum has-value flags for exact all-NULL semantics;
    *    `sum_disc`'s per-row double product replays q1's expression order
    *    exactly (`ep * (1.0 - disc)` then fix).
    *  - finale on the driver (bounded: flag-pair groups), replaying q1's
    *    ops in order: descale, HALF_UP round at the declared scales,
    *    `avg_qty = round(fsum/cnt, 6)`, ASC NULLS FIRST binary sort.
    *
    * Same 100 TB shape as q1 (scan-partitioned single pass, map-side
    * combine into bounded per-partition state, tiny merge); what changes
    * is per-row cost — no ColumnarToRow, no UnsafeRow agg buffer, no
    * BigDecimal-free-but-boxed expression tree, just primitive reads.
    */
  def q1ColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val cutoffMicros = java.time.LocalDate.of(1998, 9, 2).toEpochDay * 86400000000L
    val li = q1KernelInput(spark, dir)
    val (batches, schema) = graft.operators.ColumnarScan.batches(li)
    val rfIdx = schema.fieldIndex("l_returnflag")
    val lsIdx = schema.fieldIndex("l_linestatus")
    val qIdx = schema.fieldIndex("l_quantity")
    val epIdx = schema.fieldIndex("l_extendedprice")
    val dcIdx = schema.fieldIndex("l_discount")
    val sdIdx = schema.fieldIndex("l_shipdate")
    schema(sdIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case other => throw new KernelRefusal(
        s"q1ColumnarKernel: l_shipdate scanned as ${other.sql} — extend the " +
        "kernel alongside Tables/probeSchemas (same drift contract).")
    }
    val NullId = 0xFFFFF
    val partials = batches.mapPartitions { it =>
      val rf = new graft.operators.StringIdInterner
      val ls = new graft.operators.StringIdInterner
      // slots: cnt, qfix, qHas, bfix, bHas, dfix, dHas
      val acc = new graft.operators.LongAccMap(7)
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val rfV = b.column(rfIdx); val lsV = b.column(lsIdx)
        val qV = b.column(qIdx); val epV = b.column(epIdx)
        val dcV = b.column(dcIdx); val sdV = b.column(sdIdx)
        val anyNull = rfV.hasNull || lsV.hasNull || qV.hasNull ||
          epV.hasNull || dcV.hasNull || sdV.hasNull
        rf.bind(rfV); ls.bind(lsV)
        var i = 0
        while (i < n) {
          // the pushed filter prunes row groups; rows inside a surviving
          // group still need the per-row predicate (null => dropped)
          if (!(anyNull && sdV.isNullAt(i)) && sdV.getLong(i) <= cutoffMicros) {
            val rfId = if (anyNull && rfV.isNullAt(i)) NullId else rf.idAt(i)
            val lsId = if (anyNull && lsV.isNullAt(i)) NullId else ls.idAt(i)
            val base = acc.slot((rfId.toLong << 20) | lsId.toLong)
            val vals = acc.values
            vals(base) += 1L
            if (!(anyNull && qV.isNullAt(i))) {
              vals(base + 1) += Math.floor(qV.getDouble(i) * 10000.0 + 0.5).toLong
              vals(base + 2) = 1L
            }
            if (!(anyNull && epV.isNullAt(i))) {
              val ep = epV.getDouble(i)
              vals(base + 3) += Math.floor(ep * 10000.0 + 0.5).toLong
              vals(base + 4) = 1L
              if (!(anyNull && dcV.isNullAt(i))) {
                vals(base + 5) += Math.floor(ep * (1.0 - dcV.getDouble(i)) * 10000.0 + 0.5).toLong
                vals(base + 6) = 1L
              }
            }
          }
          i += 1
        }
      }
      val out = Vector.newBuilder[(String, String, Array[Long])]
      acc.foreachEntry { (key, base) =>
        val rfId = (key >> 20).toInt; val lsId = (key & 0xFFFFF).toInt
        out += ((if (rfId == NullId) null else rf.name(rfId),
          if (lsId == NullId) null else ls.name(lsId),
          java.util.Arrays.copyOfRange(acc.values, base, base + 7)))
      }
      out.result().iterator
    }
    // driver-side finale: group count is bounded by the flag alphabet
    def r(x: Double, scale: Int): java.lang.Double =
      java.lang.Double.valueOf(java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue())
    val merged = new java.util.HashMap[(String, String), Array[Long]]()
    partials.collect().foreach { case (a, bK, v) =>
      val m = merged.computeIfAbsent((a, bK), _ => new Array[Long](7))
      m(0) += v(0); m(1) += v(1); m(2) |= v(2); m(3) += v(3)
      m(4) |= v(4); m(5) += v(5); m(6) |= v(6)
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[((String, String), Row)]
    merged.forEach { (k, v) =>
      val cnt = v(0)
      val sumQty = if (v(2) == 0L) null else r(v(1).toDouble / 10000.0, 2)
      val sumBase = if (v(4) == 0L) null else r(v(3).toDouble / 10000.0, 2)
      val sumDisc = if (v(6) == 0L) null else r(v(5).toDouble / 10000.0, 2)
      val avgQty = if (v(2) == 0L) null else r(v(1).toDouble / 10000.0 / cnt, 6)
      rows += ((k, Row(k._1, k._2, sumQty, sumBase, sumDisc, avgQty, cnt)))
    }
    def lt(a: String, b: String): Boolean =
      if (a == null || b == null) a == null && b != null
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val sorted = rows.sortWith { case (((ra, la), _), ((rb, lb), _)) =>
      if (ra != rb) lt(ra, rb) else lt(la, lb)
    }.map(_._2)
    val outSchema = StructType(Seq(
      StructField("l_returnflag", StringType, nullable = true),
      StructField("l_linestatus", StringType, nullable = true),
      StructField("sum_qty", DoubleType, nullable = true),
      StructField("sum_base", DoubleType, nullable = true),
      StructField("sum_disc", DoubleType, nullable = true),
      StructField("avg_qty", DoubleType, nullable = true),
      StructField("cnt", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(sorted.asJava, outSchema)
  }

  /** Pay-once columnar build sides, memoized per (session, dir, kernel) —
    * the [[graft.Layouts]] discipline applied to the join kernels' build
    * maps: the reduced build relation of q105/q106/q109 (and q111's query
    * vectors) depends only on its `sources` files, so the first call pays
    * the build (and ships the broadcast) and every later call probes the
    * SAME broadcast handle — the steady state a repeated-analytics
    * deployment runs in, exactly as q92–q99 measure their post-staging
    * state. The declarative twins keep paying their per-call builds, and
    * the correctness gates hash-check EVERY call, cached build included.
    * The memo's generation is [[graft.Fingerprint.key]] of `sources`, so a
    * source rewritten in place mid-session rebuilds instead of probing a
    * stale map; a superseded broadcast is left to Spark's ContextCleaner.
    */
  private[graft] val buildCache = new graft.SourceMemo[(String, String), AnyRef]()

  private def cachedBuild[T <: AnyRef](spark: SparkSession, dir: String, tag: String,
      sources: String*)(mk: => T): T =
    buildCache.get(spark, (dir, tag), graft.Fingerprint.key(spark, dir, sources: _*))(
      _ => mk).asInstanceOf[T]

  /** [[q6]] global top-k on the columnar seam (driver-gated as q104 on
    * q6's oracle): a bounded candidate list per partition, merged and
    * re-limited on the driver — TakeOrderedAndProject's exact shape with
    * the per-row comparator running over primitive vector reads instead
    * of UnsafeRow comparisons. Ordering replicated: l_extendedprice DESC
    * NULLS LAST, then l_orderkey / l_linenumber ASC NULLS FIRST ((okey,
    * lineno) is the row identity, so the order — and the hash — is total).
    * Bounded state everywhere: k rows per partition, k × partitions on
    * the driver.
    */
  def q6ColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val k = 10
    val li = q6KernelInput(spark, dir)
    val (batches, schema) = graft.operators.ColumnarScan.batches(li)
    val okIdx = schema.fieldIndex("l_orderkey")
    val lnIdx = schema.fieldIndex("l_linenumber")
    val epIdx = schema.fieldIndex("l_extendedprice")
    val lnIsLong = schema(lnIdx).dataType == LongType
    // candidate = (epNull, ep, okNull, ok, lnNull, ln); beats(a, b) iff a
    // orders strictly before b under the query's sort
    type Cand = (Boolean, Double, Boolean, Long, Boolean, Long)
    def beats(a: Cand, b: Cand): Boolean = {
      if (a._1 != b._1) return !a._1            // DESC NULLS LAST: non-null first
      if (!a._1 && a._2 != b._2) return a._2 > b._2
      if (a._3 != b._3) return a._3             // ASC NULLS FIRST: null first
      if (!a._3 && a._4 != b._4) return a._4 < b._4
      if (a._5 != b._5) return a._5
      if (!a._5 && a._6 != b._6) return a._6 < b._6
      false
    }
    def insert(buf: scala.collection.mutable.ArrayBuffer[Cand], c: Cand): Unit = {
      if (buf.size >= k && !beats(c, buf.last)) return
      var i = 0
      while (i < buf.size && !beats(c, buf(i))) i += 1
      buf.insert(i, c)
      if (buf.size > k) buf.remove(buf.size - 1)
    }
    val partials = batches.mapPartitions { it =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[Cand]
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val okV = b.column(okIdx); val lnV = b.column(lnIdx); val epV = b.column(epIdx)
        val anyNull = okV.hasNull || lnV.hasNull || epV.hasNull
        var i = 0
        while (i < n) {
          val epNull = anyNull && epV.isNullAt(i)
          val ep = if (epNull) 0.0 else epV.getDouble(i)
          // quick reject on the primary sort column before boxing
          if (buf.size < k || epNull || buf.last._1 || ep >= buf.last._2) {
            val okNull = anyNull && okV.isNullAt(i)
            val lnNull = anyNull && lnV.isNullAt(i)
            insert(buf, (epNull, ep,
              okNull, if (okNull) 0L else okV.getLong(i),
              lnNull, if (lnNull) 0L else if (lnIsLong) lnV.getLong(i) else lnV.getInt(i).toLong))
          }
          i += 1
        }
      }
      buf.iterator
    }
    val all = scala.collection.mutable.ArrayBuffer.empty[Cand]
    partials.collect().foreach(insert(all, _))
    val rows = all.map { c =>
      Row(if (c._3) null else java.lang.Long.valueOf(c._4),
        if (c._5) null
        else if (lnIsLong) java.lang.Long.valueOf(c._6)
        else java.lang.Integer.valueOf(c._6.toInt),
        if (c._1) null else java.lang.Double.valueOf(c._2))
    }
    val outSchema = StructType(Seq(
      StructField("l_orderkey", LongType, nullable = true),
      StructField("l_linenumber", if (lnIsLong) LongType else IntegerType, nullable = true),
      StructField("l_extendedprice", DoubleType, nullable = true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, outSchema)
  }

  /** [[q3]] on the columnar seam (driver-gated as q105 on q3's oracle):
    * the broadcast range join as a primitive probe. The build side is the
    * SAME reduced orders frame q3 broadcasts — (o_orderkey, o_orderdate,
    * o_end = +90 days) computed BY Spark so calendar semantics are
    * identical — collected into a [[graft.operators.LongAccMap]]
    * (orderkey → the two band bounds as micros; the same broadcast-regime
    * boundedness q3's own stats-gated hint asserts, and the declarative
    * shuffle form remains the beyond-threshold path). The probe is then
    * three primitive reads + one open-addressing lookup + two long
    * compares per lineitem row — the hash-probe and band-eval constants
    * the r12 micro-decomposition measured as q3's whole marginal
    * (0.78 + 0.78 of 2.26 s/sf), with no joined-row materialization at
    * all. Assumes o_orderkey unique (the orders PK; the declarative join
    * would fan out on duplicates, the map keeps one).
    */
  def q3ColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Build side on the columnar seam too: two primitive reads per order,
    // per-partition (key, start) pair arrays, merged on the driver. The
    // +90 DAYS band upper bound is a CONSTANT micros add here: a
    // day-interval on TIMESTAMP_NTZ is naive-calendar arithmetic and on
    // TIMESTAMP follows the session zone — UTC has no DST, so both are
    // exactly 90 × 86 400 000 000 µs (the kernel-parity spec pins this
    // against the declarative interval add).
    val ninetyDaysMicros = 90L * 86400000000L
    val bandB = cachedBuild[org.apache.spark.broadcast.Broadcast[graft.operators.LongAccMap]](
        spark, dir, "q3band", "orders.parquet") {
      val oScan = q3KernelBuild(spark, dir)
      requireBuildBounded(oScan, "q3ColumnarKernel")
      val (oBatches, oSchema) = graft.operators.ColumnarScan.batches(oScan)
      val bOkIdx = oSchema.fieldIndex("o_orderkey")
      val bOdIdx = oSchema.fieldIndex("o_orderdate")
      oSchema(bOdIdx).dataType match {
        case TimestampType | TimestampNTZType => ()
        case other => throw new KernelRefusal(
          s"q3ColumnarKernel: o_orderdate scanned as ${other.sql} — extend the " +
          "kernel alongside Tables/probeSchemas (same drift contract).")
      }
      // EXECUTOR-SIDE build (r12 verdict: no fact-sized driver collect):
      // each partition folds its batches straight into a LongAccMap, the
      // maps merge in a tree ON EXECUTORS, and the driver receives one
      // final map to broadcast — its work is a bounded last-level merge,
      // never a partition-count collect; requireBuildBounded (above)
      // bounds the map itself to the broadcast regime.
      // single-stage finale under the gate; tree-merged past 256
      // partitions (KernelFinale scaladoc — r16 verdict item 3)
      val zero = () => (new graft.operators.LongAccMap(2), 0L)
      val (band, rowCount) = graft.operators.KernelFinale.aggregate(oBatches, zero)(
        seqOp = { case ((m, cnt), b) =>
          val n = b.numRows()
          val okV = b.column(bOkIdx); val odV = b.column(bOdIdx)
          val anyNull = okV.hasNull || odV.hasNull
          var c = cnt
          var i = 0
          while (i < n) {
            // null key never equi-matches; a null date makes BETWEEN null →
            // the filter drops every joined row → equivalent to absent
            if (!(anyNull && (okV.isNullAt(i) || odV.isNullAt(i)))) {
              val base = m.slot(okV.getLong(i))
              val od = odV.getLong(i)
              m.values(base) = od
              m.values(base + 1) = od + ninetyDaysMicros
              c += 1L
            }
            i += 1
          }
          (m, c)
        },
        combOp = { case ((a, ca), (b2, cb)) =>
          b2.foreachEntry { (k, ob) =>
            val base = a.slot(k)
            a.values(base) = b2.values(ob)
            a.values(base + 1) = b2.values(ob + 1)
          }
          (a, ca + cb)
        })
      // o_orderkey is assumed unique (orders PK): the map keeps ONE band per
      // key, so a duplicate key would silently under-count vs the
      // declarative join's fan-out. Validate the assumption loudly (the
      // badLayout discipline) — a duplicate makes insertions outnumber keys.
      if (rowCount != band.size.toLong) throw new KernelRefusal(
        s"q3ColumnarKernel: ${rowCount - band.size} duplicate o_orderkey " +
        "value(s) in the build — the kernel's one-band-per-key map would " +
        "under-count; use the declarative q3 (which fans out) instead.")
      spark.sparkContext.broadcast(band)
    }
    val li = q3KernelProbe(spark, dir)
    val (batches, schema) = graft.operators.ColumnarScan.batches(li)
    val okIdx = schema.fieldIndex("l_orderkey")
    val sdIdx = schema.fieldIndex("l_shipdate")
    val epIdx = schema.fieldIndex("l_extendedprice")
    // same drift-contract guard as the build side's o_orderdate (and q1's
    // l_shipdate): a LongType NANOS probe column would silently compare
    // nanos against micros band bounds instead of failing loudly
    schema(sdIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case other => throw new KernelRefusal(
        s"q3ColumnarKernel: l_shipdate scanned as ${other.sql} — extend the " +
        "kernel alongside Tables/probeSchemas (same drift contract).")
    }
    val partials = batches.mapPartitions { it =>
      val m = bandB.value
      var cnt = 0L; var fix = 0L; var has = 0L
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val okV = b.column(okIdx); val sdV = b.column(sdIdx); val epV = b.column(epIdx)
        val anyNull = okV.hasNull || sdV.hasNull || epV.hasNull
        var i = 0
        while (i < n) {
          if (!(anyNull && (okV.isNullAt(i) || sdV.isNullAt(i)))) {
            val base = m.getSlot(okV.getLong(i))
            if (base >= 0) {
              val sd = sdV.getLong(i)
              if (sd >= m.values(base) && sd <= m.values(base + 1)) {
                cnt += 1L
                if (!(anyNull && epV.isNullAt(i))) {
                  fix += Math.floor(epV.getDouble(i) * 10000.0 + 0.5).toLong
                  has = 1L
                }
              }
            }
          }
          i += 1
        }
      }
      Iterator.single((cnt, fix, has))
    }
    var cnt = 0L; var fix = 0L; var has = 0L
    partials.collect().foreach { case (c, f, h) => cnt += c; fix += f; has |= h }
    val ap =
      if (has == 0L) null
      else java.lang.Double.valueOf(java.math.BigDecimal.valueOf(fix.toDouble / 10000.0 / cnt)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
    val outSchema = StructType(Seq(
      StructField("c", LongType, nullable = false),
      StructField("ap", DoubleType, nullable = true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(Row(cnt, ap)).asJava, outSchema)
  }

  /** [[q2]] on the columnar seam (driver-gated as q106 on q2's oracle):
    * the 4-way join's fact-side probe as primitives. The dimension chain
    * (customer⋈nation⋈region → orders reduction) is EXACTLY q2's own
    * Spark subplan, collected as (o_orderkey → nation id) into a
    * [[graft.operators.LongAccMap]] + interned name table — the
    * broadcast-regime boundedness q2's stats-gated hint already asserts.
    * The lineitem probe is then one lookup + one fused
    * `ep·(1−disc)` fix per row, revenue accumulating per nation id in a
    * primitive array. Finale on the driver (nations): descale, HALF_UP
    * round, `rev DESC NULLS LAST, n_name ASC` — q2's exact output order.
    */
  /** q106's pay-once build: the dimension chain reduced to
    * (o_orderkey → nation id) + the nation name table. region⋈nation as
    * ONE tiny collect, then two primitive columnar probe passes
    * (customer, orders) — the same inner-equi-join semantics as q2's
    * chain (dimension PKs unique, null keys never match), with zero
    * Spark join stages. Cached per (session, dir) via [[buildCache]].
    */
  private def buildQ2OkToNation(spark: SparkSession, dir: String)
      : (org.apache.spark.broadcast.Broadcast[graft.operators.LongAccMap], Array[String]) = {
    import org.apache.spark.sql.types.LongType
    // nid is keyed by NATION NAME, not nationkey: the declarative q2 groups
    // by n_name, so two nationkeys sharing a name must land in ONE group
    // (and a null name is its own single group) — keying ids by nationkey
    // split such groups (r12 ADVICE). HashMap accepts the null-name key.
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val nameToNid = new java.util.HashMap[String, Integer]()
    val nationToNid = new graft.operators.LongAccMap(1)
    Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().foreach { r =>
        if (!r.isNullAt(0)) {
          val nm = if (r.isNullAt(1)) null else r.getString(1)
          var nid = nameToNid.get(nm)
          if (nid == null) {
            nid = Integer.valueOf(names.length)
            nameToNid.put(nm, nid)
            names += nm
          }
          // same loud PK validation as every other level of the chain: a
          // duplicate n_nationkey would silently last-write-win here while
          // the declarative join fans out
          if (nationToNid.getSlot(r.getLong(0)) >= 0) throw new KernelRefusal(
            s"q2ColumnarKernel: duplicate n_nationkey ${r.getLong(0)} in the " +
            "nation build — the one-entry-per-key map would drop the " +
            "declarative join's fan-out; use the declarative q2 instead.")
          val base = nationToNid.slot(r.getLong(0))
          nationToNid.values(base) = nid.longValue()
        }
      }
    def probePairs(df: org.apache.spark.sql.DataFrame, keyCol: String, probeCol: String,
        probeMap: graft.operators.LongAccMap): graft.operators.LongAccMap = {
      requireBuildBounded(df, "q2ColumnarKernel")
      val (bs, sch) = graft.operators.ColumnarScan.batches(df)
      val kIdx = sch.fieldIndex(keyCol)
      val pIdx = sch.fieldIndex(probeCol)
      // dim foreign keys ship as INTEGER in this testdata, fact keys as
      // BIGINT — widen per the scanned type (getLong on an int vector is
      // undefined, not a widening read)
      val kIsLong = sch(kIdx).dataType == LongType
      val pIsLong = sch(pIdx).dataType == LongType
      val mapB = df.sparkSession.sparkContext.broadcast(probeMap)
      // executor-side build, tree-merged (r12 verdict: no driver collect of
      // fact-sized probe outputs); uniqueness of the build key (a PK at
      // every level of the chain) validated by insert-vs-size accounting,
      // as in the q3 band build — a duplicate would silently drop the
      // declarative join's fan-out
      val (out, matched) = graft.operators.KernelFinale.aggregate(bs,
          () => (new graft.operators.LongAccMap(1), 0L))(
        seqOp = { case ((m, cnt), b) =>
          val pm = mapB.value
          val n = b.numRows()
          val kV = b.column(kIdx); val pV = b.column(pIdx)
          val anyNull = kV.hasNull || pV.hasNull
          var c = cnt
          var i = 0
          while (i < n) {
            if (!(anyNull && (kV.isNullAt(i) || pV.isNullAt(i)))) {
              val p = if (pIsLong) pV.getLong(i) else pV.getInt(i).toLong
              val base = pm.getSlot(p)
              if (base >= 0) {
                val kb = m.slot(if (kIsLong) kV.getLong(i) else kV.getInt(i).toLong)
                m.values(kb) = pm.values(base)
                c += 1L
              }
            }
            i += 1
          }
          (m, c)
        },
        combOp = { case ((a, ca), (b2, cb)) =>
          b2.foreachEntry { (k, ob) =>
            // slot() BEFORE reading a.values — it can grow/replace the array
            val base = a.slot(k)
            a.values(base) = b2.values(ob)
          }
          (a, ca + cb)
        })
      mapB.destroy()
      if (matched != out.size.toLong) throw new KernelRefusal(
        s"q2ColumnarKernel: ${matched - out.size} duplicate $keyCol value(s) " +
        "in the build — the one-entry-per-key map would drop the declarative " +
        "join's fan-out; use the declarative q2 instead.")
      out
    }
    val custToNid = probePairs(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
      "c_custkey", "c_nationkey", nationToNid)
    val okToNation = probePairs(
      q2KernelBuildBound(spark, dir), "o_orderkey", "o_custkey", custToNid)
    (spark.sparkContext.broadcast(okToNation), names.toArray)
  }

  def q2ColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // The whole dimension chain on the columnar seam: region and nation
    // are collected outright (a handful of rows), customer and orders are
    // primitive two-column columnar passes probing the previous level's
    // map — the same inner-equi-join semantics as q2's chain (dimension
    // PKs unique, null keys never match), with zero Spark join stages.
    // region⋈nation as ONE tiny collect (both fit in a hand): every job
    // here is a full dispatch, and the kernel's wall is mostly job count.
    // The whole build (two probe jobs + broadcast) is pay-once cached —
    // see [[buildCache]].
    val (mapB, names) = cachedBuild[(org.apache.spark.broadcast.Broadcast[graft.operators.LongAccMap], Array[String])](
        spark, dir, "q2oknation",
        "region.parquet", "nation.parquet", "customer.parquet", "orders.parquet") {
      buildQ2OkToNation(spark, dir)
    }
    val nNations = names.length
    val li = q2KernelProbe(spark, dir)
    val (batches, schema) = graft.operators.ColumnarScan.batches(li)
    val okIdx = schema.fieldIndex("l_orderkey")
    val epIdx = schema.fieldIndex("l_extendedprice")
    val dcIdx = schema.fieldIndex("l_discount")
    val partials = batches.mapPartitions { it =>
      val m = mapB.value
      val fix = new Array[Long](Math.max(nNations, 1))
      val hasV = new Array[Long](Math.max(nNations, 1))
      val cnt = new Array[Long](Math.max(nNations, 1))
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val okV = b.column(okIdx); val epV = b.column(epIdx); val dcV = b.column(dcIdx)
        val anyNull = okV.hasNull || epV.hasNull || dcV.hasNull
        var i = 0
        while (i < n) {
          if (!(anyNull && okV.isNullAt(i))) {
            val base = m.getSlot(okV.getLong(i))
            if (base >= 0) {
              val nid = m.values(base).toInt
              cnt(nid) += 1L
              if (!(anyNull && (epV.isNullAt(i) || dcV.isNullAt(i)))) {
                fix(nid) += Math.floor(epV.getDouble(i) * (1.0 - dcV.getDouble(i)) * 10000.0 + 0.5).toLong
                hasV(nid) = 1L
              }
            }
          }
          i += 1
        }
      }
      Iterator.single((cnt, fix, hasV))
    }
    val cnt = new Array[Long](Math.max(nNations, 1))
    val fix = new Array[Long](Math.max(nNations, 1))
    val hasV = new Array[Long](Math.max(nNations, 1))
    partials.collect().foreach { case (c0, f0, h0) =>
      var i = 0
      while (i < nNations) { cnt(i) += c0(i); fix(i) += f0(i); hasV(i) |= h0(i); i += 1 }
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, java.lang.Double)]
    var i = 0
    while (i < nNations) {
      if (cnt(i) > 0L) {       // inner join: a nation appears only if matched
        val rev =
          if (hasV(i) == 0L) null
          else java.lang.Double.valueOf(java.math.BigDecimal.valueOf(fix(i).toDouble / 10000.0)
            .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
        rows += ((names(i), rev))
      }
      i += 1
    }
    // rev DESC NULLS LAST, then n_name ASC NULLS FIRST (binary; null-guarded
    // like the q1/q7 kernels' lt() — a null nation name must not NPE here)
    def nameLt(a: String, b: String): Boolean =
      if (a == null || b == null) a == null && b != null
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val sorted = rows.sortWith { case ((na, ra), (nb, rb)) =>
      if ((ra == null) != (rb == null)) rb == null
      else if (ra != null && ra.doubleValue() != rb.doubleValue()) ra.doubleValue() > rb.doubleValue()
      else nameLt(na, nb)
    }.map { case (n2, r2) => Row(n2, r2) }
    val outSchema = StructType(Seq(
      StructField("n_name", StringType, nullable = true),
      StructField("rev", DoubleType, nullable = true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(sorted.asJava, outSchema)
  }

  /** [[q5]] on the columnar seam (driver-gated as q107 on q5's oracle):
    * per-customer top-3 heaps over primitive vector reads. Per partition a
    * [[graft.operators.LongAccMap]] holds each seen customer's 3-slot
    * (price DESC, key ASC) buffer — [[graft.functions.TopKByPrice]]'s
    * insert semantics exactly, prices stored as raw long bits. The output
    * contract (`ORDER BY o_custkey, rn LIMIT 100`) bounds what must leave
    * each partition: a customer can contribute only if fewer than 100
    * customers rank below it IN THAT PARTITION (hash buckets only shrink
    * that set), so each partition emits its 100 smallest custkeys'
    * buffers and the driver merges per-custkey (lossless for top-k),
    * sorts, limits. Works on the plain scan AND the o_custkey-bucketed
    * layout (where per-partition buffers are already final).
    */
  def q5ColumnarKernel(spark: SparkSession, dir: String): DataFrame =
    q5ColumnarKernelFrom(Tables.orders(spark, dir))

  /** [[q5ColumnarKernel]] over any orders-shaped frame (the layout seam). */
  def q5ColumnarKernelFrom(o: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val k = 3
    val limit = 100
    val proj = o.select(Q5KernelCols.map(col): _*)
    val (batches, schema) = graft.operators.ColumnarScan.batches(proj)
    val ckIdx = schema.fieldIndex("o_custkey")
    val okIdx = schema.fieldIndex("o_orderkey")
    val tpIdx = schema.fieldIndex("o_totalprice")
    // slots per custkey: size, p0,k0, p1,k1, p2,k2 (prices as raw bits)
    val slots = 1 + 2 * k
    val partials = batches.mapPartitions { it =>
      val acc = new graft.operators.LongAccMap(slots)
      var sawNullCust = false
      val nullBuf = new Array[Long](slots)
      def insert(vals: Array[Long], base: Int, p: Double, key: Long): Unit = {
        val size = vals(base).toInt
        // O(1) reject against the current worst (TopKByPrice.better: price
        // DESC then key ASC)
        if (size >= k) {
          val wp = java.lang.Double.longBitsToDouble(vals(base + 1 + 2 * (size - 1)))
          val wk = vals(base + 2 + 2 * (size - 1))
          if (!(p > wp || (p == wp && key < wk))) return
        }
        var i = 0
        var continue = true
        while (i < size && continue) {
          val cp = java.lang.Double.longBitsToDouble(vals(base + 1 + 2 * i))
          val ck = vals(base + 2 + 2 * i)
          if (p > cp || (p == cp && key < ck)) continue = false else i += 1
        }
        if (i < k) {
          val newSize = Math.min(size + 1, k)
          var j = newSize - 1
          while (j > i) {
            vals(base + 1 + 2 * j) = vals(base + 1 + 2 * (j - 1))
            vals(base + 2 + 2 * j) = vals(base + 2 + 2 * (j - 1))
            j -= 1
          }
          vals(base + 1 + 2 * i) = java.lang.Double.doubleToRawLongBits(p)
          vals(base + 2 + 2 * i) = key
          vals(base) = newSize
        }
      }
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val ckV = b.column(ckIdx); val okV = b.column(okIdx); val tpV = b.column(tpIdx)
        val anyNull = ckV.hasNull || okV.hasNull || tpV.hasNull
        var i = 0
        while (i < n) {
          // TopKPriceRows skips null price/key inputs; a null custkey is
          // its own group (ASC NULLS FIRST puts it ahead of every custkey)
          if (!(anyNull && (okV.isNullAt(i) || tpV.isNullAt(i)))) {
            val p = tpV.getDouble(i); val key = okV.getLong(i)
            if (anyNull && ckV.isNullAt(i)) { sawNullCust = true; insert(nullBuf, 0, p, key) }
            else {
              val base = acc.slot(ckV.getLong(i))
              insert(acc.values, base, p, key)
            }
          }
          i += 1
        }
      }
      // keep only the partition's `limit` smallest custkeys (plus the
      // null-custkey group, which sorts before all of them)
      val keys = new Array[Long](acc.size)
      var ki = 0
      acc.foreachEntry { (key, _) => keys(ki) = key; ki += 1 }
      java.util.Arrays.sort(keys)
      val keep = Math.min(keys.length, limit)
      val out = Vector.newBuilder[(java.lang.Long, Array[Long])]
      if (sawNullCust) out += ((null, nullBuf.clone()))
      var j = 0
      while (j < keep) {
        val base = acc.getSlot(keys(j))
        out += ((java.lang.Long.valueOf(keys(j)),
          java.util.Arrays.copyOfRange(acc.values, base, base + slots)))
        j += 1
      }
      out.result().iterator
    }
    // driver merge: per-custkey top-k merge is lossless; then the global
    // (custkey ASC NULLS FIRST, rn) order and LIMIT
    val merged = new java.util.HashMap[java.lang.Long, Array[Long]]()
    partials.collect().foreach { case (ck, buf) =>
      val cur = merged.get(ck)
      if (cur == null) merged.put(ck, buf)
      else {
        var i = 0
        val sz = buf(0).toInt
        while (i < sz) {
          val p = java.lang.Double.longBitsToDouble(buf(1 + 2 * i))
          val key = buf(2 + 2 * i)
          // replay insert into cur
          val size = cur(0).toInt
          var pos = 0
          var cont = true
          while (pos < size && cont) {
            val cp = java.lang.Double.longBitsToDouble(cur(1 + 2 * pos))
            val ckk = cur(2 + 2 * pos)
            if (p > cp || (p == cp && key < ckk)) cont = false else pos += 1
          }
          if (pos < k) {
            val newSize = Math.min(size + 1, k)
            var j = newSize - 1
            while (j > pos) {
              cur(1 + 2 * j) = cur(1 + 2 * (j - 1))
              cur(2 + 2 * j) = cur(2 + 2 * (j - 1))
              j -= 1
            }
            cur(1 + 2 * pos) = java.lang.Double.doubleToRawLongBits(p)
            cur(2 + 2 * pos) = key
            cur(0) = newSize
          }
          i += 1
        }
      }
    }
    val custkeys = scala.collection.mutable.ArrayBuffer.empty[java.lang.Long]
    merged.forEach((ck, _) => custkeys += ck)
    val sortedCk = custkeys.sortWith { (a, b) =>
      if (a == null || b == null) a == null && b != null else a.longValue() < b.longValue()
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val ckIt = sortedCk.iterator
    while (rows.size < limit && ckIt.hasNext) {
      val ck = ckIt.next()
      val buf = merged.get(ck)
      val sz = buf(0).toInt
      var i = 0
      while (i < sz && rows.size < limit) {
        rows += Row(ck, buf(2 + 2 * i),
          java.lang.Double.longBitsToDouble(buf(1 + 2 * i)), (i + 1).toLong)
        i += 1
      }
    }
    val outSchema = StructType(Seq(
      StructField("o_custkey", LongType, nullable = true),
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_totalprice", DoubleType, nullable = false),
      StructField("rn", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    proj.sparkSession.createDataFrame(rows.asJava, outSchema)
  }

  /** [[q7]] ROLLUP on the columnar seam (driver-gated as q108 on q7's
    * oracle): one q101-style pass collects the finest (returnflag,
    * linestatus) cells — count + fixed-point price sum + has-value flag —
    * and the rollup lattice (per-flag subtotals, grand total) is computed
    * on the driver from those cells, exactly the pre-aggregate-then-roll
    * shape q7 itself uses (and for the same reason: every rollup cell is
    * a union of finest cells, so only the tiny cell table is ever
    * combined). Ordering: ASC NULLS FIRST on both columns, which places
    * each level's subtotal ahead of its detail rows, as Spark's sort does.
    */
  def q7ColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_extendedprice"))
    val (batches, schema) = graft.operators.ColumnarScan.batches(li)
    val rfIdx = schema.fieldIndex("l_returnflag")
    val lsIdx = schema.fieldIndex("l_linestatus")
    val epIdx = schema.fieldIndex("l_extendedprice")
    val NullId = 0xFFFFF
    val partials = batches.mapPartitions { it =>
      val rf = new graft.operators.StringIdInterner
      val ls = new graft.operators.StringIdInterner
      val acc = new graft.operators.LongAccMap(3) // cnt, fix, has
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val rfV = b.column(rfIdx); val lsV = b.column(lsIdx); val epV = b.column(epIdx)
        val anyNull = rfV.hasNull || lsV.hasNull || epV.hasNull
        rf.bind(rfV); ls.bind(lsV)
        var i = 0
        while (i < n) {
          val rfId = if (anyNull && rfV.isNullAt(i)) NullId else rf.idAt(i)
          val lsId = if (anyNull && lsV.isNullAt(i)) NullId else ls.idAt(i)
          val base = acc.slot((rfId.toLong << 20) | lsId.toLong)
          val vals = acc.values
          vals(base) += 1L
          if (!(anyNull && epV.isNullAt(i))) {
            vals(base + 1) += Math.floor(epV.getDouble(i) * 10000.0 + 0.5).toLong
            vals(base + 2) = 1L
          }
          i += 1
        }
      }
      val out = Vector.newBuilder[(String, String, Long, Long, Long)]
      acc.foreachEntry { (key, base) =>
        val rfId = (key >> 20).toInt; val lsId = (key & 0xFFFFF).toInt
        val v = acc.values
        out += ((if (rfId == NullId) null else rf.name(rfId),
          if (lsId == NullId) null else ls.name(lsId), v(base), v(base + 1), v(base + 2)))
      }
      out.result().iterator
    }
    val cells = new java.util.HashMap[(String, String), Array[Long]]()
    partials.collect().foreach { case (a, bK, c, f, h) =>
      val m = cells.computeIfAbsent((a, bK), _ => new Array[Long](3))
      m(0) += c; m(1) += f; m(2) |= h
    }
    // Roll the lattice up from the finest cells, with the GROUPING LEVEL in
    // the key: a data-null flag value and a subtotal's null marker render
    // identically in the output but are DIFFERENT cells (Spark and DuckDB
    // distinguish them by grouping id and emit both rows). Keying by level
    // keeps an ('A', null-data) detail cell separate from the ('A',
    // <subtotal>) marker cell instead of double-counting both into one row
    // (the r12 ADVICE failure mode on corpora with null flag values).
    val rollup = new java.util.LinkedHashMap[(Int, String, String), Array[Long]]()
    def add(k: (Int, String, String), v: Array[Long]): Unit = {
      val m = rollup.computeIfAbsent(k, _ => new Array[Long](3))
      m(0) += v(0); m(1) += v(1); m(2) |= v(2)
    }
    cells.forEach { (k, v) =>
      add((0, k._1, k._2), v)    // detail row (flag values as scanned, nulls included)
      add((1, k._1, null), v)    // per-flag subtotal: linestatus is the marker
      add((2, null, null), v)    // grand total: both columns are markers
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[((Int, String, String), Row)]
    rollup.forEach { (k, v) =>
      val s =
        if (v(2) == 0L) null
        else java.lang.Double.valueOf(java.math.BigDecimal.valueOf(v(1).toDouble / 10000.0)
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
      rows += ((k, Row(k._2, k._3, v(0), s)))
    }
    def lt(a: String, b: String): Boolean =
      if (a == null || b == null) a == null && b != null
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    // ASC NULLS FIRST on both rendered columns (marker and data nulls sort
    // identically — as in Spark's plan); rows tying on both (a data-null
    // detail cell vs its enclosing subtotal) are ordered by level, which is
    // deterministic here and canonicalized away by the driver's row-sorted
    // hash (Spark's own sort leaves their relative order unspecified too).
    val sorted = rows.sortWith { case (((lva, ra, la), _), ((lvb, rb, lb), _)) =>
      if (ra != rb) lt(ra, rb)
      else if (la != lb) lt(la, lb)
      else lva < lvb
    }.map(_._2)
    val outSchema = StructType(Seq(
      StructField("l_returnflag", StringType, nullable = true),
      StructField("l_linestatus", StringType, nullable = true),
      StructField("c", LongType, nullable = false),
      StructField("s", DoubleType, nullable = true)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(sorted.asJava, outSchema)
  }

  /** [[q4]] semi+anti on the columnar seam (driver-gated as q109 on q4's
    * oracle): the distinct ordering-customer set built by one primitive
    * orders pass (per-partition key sets, union on the driver — the same
    * broadcast-regime boundedness q4's stats-gated hint asserts), then
    * one customer pass counting membership both ways. Null semantics as
    * the left-outer-vs-distinct form: a null o_custkey never matches
    * (never enters the set), a null c_custkey probes as a miss.
    */
  def q4ColumnarKernel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val mB = cachedBuild[org.apache.spark.broadcast.Broadcast[graft.operators.LongAccMap]](
        spark, dir, "q4members", "orders.parquet") {
      val o = q4KernelBuild(spark, dir)
      requireBuildBounded(o, "q4ColumnarKernel")
      val (oB, oSch) = graft.operators.ColumnarScan.batches(o)
      val ocIdx = oSch.fieldIndex("o_custkey")
      // executor-side distinct-set build, tree-merged (r12 verdict: the
      // driver never unions partition key arrays — it receives ONE merged
      // set to broadcast, bounded by the gate above)
      val members = graft.operators.KernelFinale.aggregate(oB,
        () => new graft.operators.LongAccMap(1))(
        seqOp = { (set, b) =>
          val n = b.numRows()
          val v = b.column(ocIdx)
          val anyNull = v.hasNull
          var i = 0
          while (i < n) {
            if (!(anyNull && v.isNullAt(i))) set.slot(v.getLong(i))
            i += 1
          }
          set
        },
        combOp = { (a, b2) => b2.foreachEntry((k, _) => a.slot(k)); a })
      spark.sparkContext.broadcast(members)
    }
    val c = q4KernelProbe(spark, dir)
    val (cB, cSch) = graft.operators.ColumnarScan.batches(c)
    val ccIdx = cSch.fieldIndex("c_custkey")
    val counts = cB.mapPartitions { it =>
      val m = mB.value
      var has = 0L; var not = 0L
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        val v = b.column(ccIdx)
        val anyNull = v.hasNull
        var i = 0
        while (i < n) {
          if (anyNull && v.isNullAt(i)) not += 1L
          else if (m.getSlot(v.getLong(i)) >= 0) has += 1L
          else not += 1L
          i += 1
        }
      }
      Iterator.single((has, not))
    }.collect()
    var has = 0L; var not = 0L
    counts.foreach { case (h, n0) => has += h; not += n0 }
    // sum() over zero rows is NULL — match the declarative aggregate on an
    // empty customer table
    val row: Array[Any] =
      if (has + not == 0L) Array(null, null)
      else Array(java.lang.Long.valueOf(has), java.lang.Long.valueOf(not))
    val outSchema = StructType(Seq(
      StructField("has_orders", LongType, nullable = true),
      StructField("no_orders", LongType, nullable = true)))
    graft.operators.KernelFinale.primitiveRows(spark, outSchema, Seq(row))
  }

  /** Q2 revenue by nation: 4-way join, selective side first.
    *
    * Join order matters and Catalyst does NOT reorder user joins without
    * CBO stats: joining lineitem⋈orders first shuffles the full fact table
    * against UNFILTERED orders. Instead orders is reduced FIRST through the
    * dimension chain (customer⋈nation⋈region-filtered, all broadcast), so
    * the fact table joins a ~5× smaller, already-labeled orders side.
    *
    * The two derived build sides (asiaCust, asiaOrders) carry a
    * STATS-GATED broadcast hint ([[broadcastIfBounded]]): when the
    * bounding base scan is provably under the session broadcast threshold,
    * the hint pins the broadcast at PLAN time, which skips AQE's
    * query-stage protocol — without the hint AQE must materialize the
    * shuffle-map stages of BOTH join sides (including the full fact table)
    * before it can convert each join to broadcast, a serial ~0.9 s of the
    * round-3 1.5 s median; with it, lineitem streams straight through one
    * codegen'd probe stage (~0.6 s, and zero fact-side shuffle writes). At
    * 100 TB the bound exceeds the threshold, no hint is emitted, and the
    * plan degrades to exactly the shuffle join AQE would pick anyway.
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA"))
    // The dimension chain collapses CUSTOMER-side first: customer⋈nation⋈
    // region involves no fact table, so this (small) build runs without
    // waiting on the orders scan, and orders then joins ONE reduced side
    // instead of threading through three sequential join stages.
    val asiaCust = broadcastIfBounded(c
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name")), bound = c)
    val asiaOrders = broadcastIfBounded(o
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("n_name")), bound = o)
    li.select("l_orderkey", "l_extendedprice", "l_discount")
      .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(Relational.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("rev"))
      .orderBy(col("rev").desc, col("n_name"))
  }

  /** [[q2]]'s fact join over ANY lineitem/orders-shaped frames — the
    * pay-once layout seam (the q5From pattern): the dimension chain is
    * still explicitly broadcast (region/nation/customer are small at any
    * scale), but the fact join carries NO hint, so its physicality is the
    * session's choice. Over [[graft.Layouts.stageFactsByOrderkey]]'s
    * orderkey-bucketed tables it plans as a zero-exchange co-located
    * SortMergeJoin — the shape that survives 100 TB where neither fact
    * side broadcasts; driver-gated as `q98` against q2's own oracle.
    */
  def q2FromFacts(li: DataFrame, o: DataFrame, spark: SparkSession,
      dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA"))
    val asiaCust = broadcast(c
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name")))
    val asiaOrders = o.select("o_orderkey", "o_custkey")
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("n_name"))
    li.select("l_orderkey", "l_extendedprice", "l_discount")
      .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(Relational.dsum(
        col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("rev"))
      .orderBy(col("rev").desc, col("n_name"))
  }

  /** ONE definition of the orderkey fact-layout's plan gate (the
    * custkeyLayoutGateViolations pattern), called by BucketedJoinSpec:
    * the bucketed fact join must not re-exchange either fact side on its
    * orderkey.
    */
  private[graft] def orderkeyLayoutGateViolations(plan: String): Seq[String] = {
    val ex = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("l_orderkey") || l.contains("o_orderkey")))
    if (ex > 0) Seq(s"$ex exchange(s) re-partition the fact side") else Seq.empty
  }

  /** Broadcast hint gated on real plan-time statistics: applied only when
    * `bound`'s optimized-plan size (for a pruned parquet scan, the actual
    * COMPRESSED file footprint scaled by column pruning) fits the session
    * broadcast threshold with an 8× margin — sound when `df` derives from
    * `bound` by filters/joins-that-only-drop-rows/projections, since rows
    * can only shrink, and the margin covers both projection width growth
    * and parquet decompression (an explicit hint bypasses AQE's runtime
    * size re-check, so the estimate must be conservative about in-memory
    * expansion). A threshold-INDEPENDENT 256 MB cap on the expanded
    * estimate bounds driver/executor memory even if a caller raises
    * autoBroadcastJoinThreshold to something reckless.
    * The hint moves the broadcast decision from AQE runtime (which must
    * first materialize both sides' shuffle-map stages) to plan time; when
    * the bound is too big — any genuinely large input — NO hint is
    * emitted, so a forced broadcast can never OOM at scale.
    */
  /** The broadcast-regime predicate shared by [[broadcastIfBounded]] and
    * the join kernels' build gates: `bound`'s optimized-plan size estimate,
    * expanded 8× for decompression/width, fits both the session broadcast
    * threshold and a threshold-independent 256 MB cap.
    */
  private[graft] def withinBroadcastBound(bound: DataFrame): Boolean = {
    val threshold = bound.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val expanded = bound.queryExecution.optimizedPlan.stats.sizeInBytes * 8
    val absCap = BigInt(256L * 1024 * 1024)
    threshold > 0 && expanded <= threshold && expanded <= absCap
  }

  /** Loud validity gate for a columnar join-kernel build: the build
    * materializes one map entry per `bound` row (executor-built, tree-merged,
    * finally broadcast — so both the driver and every executor hold it), so
    * past the broadcast regime the kernel must refuse rather than OOM. The
    * [[graft.Exec]] dispatcher pre-checks the same predicate and routes to
    * the declarative twin instead of tripping this.
    */
  private[graft] def requireBuildBounded(bound: DataFrame, kernel: String): Unit =
    if (!withinBroadcastBound(bound)) throw new KernelRefusal(
      s"$kernel: build side exceeds the broadcast regime " +
      "(autoBroadcastJoinThreshold / 256 MB cap) — the kernel's broadcast " +
      "map would not be bounded; use the declarative twin, which degrades " +
      "to a shuffled join.")

  def broadcastIfBounded(df: DataFrame, bound: DataFrame): DataFrame = {
    if (withinBroadcastBound(bound)) broadcast(df) else df
  }

  /** Q3 range/theta join: equi on orderkey + 90-day date band.
    * The equi key carries the join; the band predicate is evaluated inside
    * the join stage (no extra pass). The orders side is pruned to the
    * columns the band needs and carries the stats-gated plan-time
    * broadcast hint ([[broadcastIfBounded]]): under the bound, lineitem
    * streams through one map-side hash probe — zero fact-table shuffle,
    * zero AQE stage materialization; over it (any genuinely large
    * orders), no hint is emitted and the plan degrades to the shuffled
    * equi-join AQE would pick. The band's upper bound (`o_orderdate` +
    * 90 days — a calendar-interval add, not a long add) is PRECOMPUTED on
    * the build side so it evaluates once per order, not once per joined
    * row (Catalyst cannot move a mixed-side filter's subexpression across
    * the join itself; measured ~5% at sf0.1, and the joined-row count
    * only grows with fan-out at scale).
    */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_shipdate", "l_extendedprice")
    val oNarrow = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("o_end"))
    li.join(broadcastIfBounded(oNarrow, bound = oNarrow),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate").between(col("o_orderdate"), col("o_end")))
      .agg(count(lit(1)).as("c"),
        round(Relational.fsum(col("l_extendedprice")) / count(lit(1)), 2).as("ap"))
  }

  /** Q4 semi + anti in ONE pass: EXISTS and NOT EXISTS are complementary
    * outcomes of the same membership probe, so both counts fall out of a
    * single left-outer join against the DISTINCT order keys — one build
    * (stats-gated broadcast), one probe of customer, one aggregation.
    * The r9 two-join form ([[q4SemiAnti]], kept as the semantic
    * cross-check) paid two dependent broadcast builds + two probe passes
    * + a crossJoin — ≈2 dispatch floors of pure serial latency (r9
    * verdict: 3.7× best pair, 3.8 marginal, both-legs-broadcast).
    * The distinct() is required for count correctness (a customer with N
    * orders must count once) and is a map-side-combining exchange of the
    * pruned int key; at 100 TB the bound exceeds the broadcast threshold,
    * no hint is emitted, and this degrades to one shuffled join — still
    * half the old plan.
    */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey")
    val o = Tables.orders(spark, dir).select("o_custkey").distinct()
    c.join(broadcastIfBounded(o, bound = o),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .agg(
        sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("has_orders"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("no_orders"))
  }

  /** The separate left_semi / left_anti spelling — the one-operator-per-
    * row reading of SURVEY §2.2 rows 9–10, retained as the semantic
    * cross-check for the fused form (PlanSpec asserts equality; the semi
    * and anti join operators themselves stay exercised through this
    * path and its spec).
    */
  def q4SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey")
    val o = Tables.orders(spark, dir).select("o_custkey")
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("has_orders"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("no_orders"))
    semi.crossJoin(anti)
  }

  /** Q5 top-3 orders per customer — as a BOUNDED-HEAP AGGREGATE
    * ([[graft.functions.TopKByPrice]]), not a ranking window.
    *
    * The window form ([[q5Window]], kept as the semantic cross-check)
    * shuffles every order row and SORTS each hash partition before ranking;
    * its measured marginal cost vs the oracle was 7.5× (r9 slope table) —
    * the sort + row-at-a-time WindowExec is pure data-proportional
    * overhead when only k rows per group survive. The aggregate form is a
    * partial+final hash agg with O(k) state per customer: map-side
    * partials cap the exchange at 3 rows per (customer, partition), no
    * sort of data rows happens anywhere, and row_number falls out of the
    * position in the already-ordered k-array (posexplode). Same output,
    * same hash, aggregation-shaped at 100 TB.
    *
    * The aggregate runs as the native [[graft.functions.TopKPriceRows]]
    * (TypedImperativeAggregate reading the two primitive columns straight
    * off the InternalRow) rather than the udaf spelling, whose
    * per-row encoder stack measured ~2× the whole query's wall (r11
    * A/B, PERF.md); both spellings share one insert kernel and
    * PlanSpec's q5 == q5Window gate pins the output.
    */
  def q5(spark: SparkSession, dir: String): DataFrame =
    q5From(Tables.orders(spark, dir))

  /** [[q5]] over any orders-shaped frame — the pay-once layout seam: on an
    * o_custkey-bucketed orders table the heap aggregation runs PARTIAL-ONLY
    * (one exchange-free stage), measured next to the q2 and events layouts
    * (tools/bench_bucketed_latest.json@ec375fe).
    */
  def q5From(o: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val top3 = GraftColumnBridge.column(graft.functions.TopKPriceRows(
      GraftColumnBridge.expression(col("o_totalprice")),
      GraftColumnBridge.expression(col("o_orderkey")), 3).toAggregateExpression())
    o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .groupBy(col("o_custkey"))
      .agg(top3.as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"),
        col("col.key").as("o_orderkey"),
        col("col.price").as("o_totalprice"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy(col("o_custkey"), col("rn"))
      .limit(100)
  }

  /** ONE definition of the o_custkey pay-once layout's plan gate, called
    * by BucketedJoinSpec (the userIdLayoutGateViolations pattern): the
    * bucketed q5 must not re-exchange on o_custkey. A gate duplicated at
    * each call site can drift and silently check different plans.
    */
  private[graft] def custkeyLayoutGateViolations(plan: String): Seq[String] = {
    val ex = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("o_custkey"))
    if (ex > 0) Seq(s"$ex exchange(s) re-partition on o_custkey") else Seq.empty
  }

  /** The row_number window form of q5 — the one-line idiomatic spelling,
    * retained as the independent semantic oracle for the aggregate form
    * (RelationalSpec asserts q5 == q5Window row-for-row). Shuffles once on
    * o_custkey, per-partition sort, WindowGroupLimit prunes to 3/group
    * pre-shuffle.
    */
  def q5Window(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
      .limit(100)
  }

  /** Q6 global top-k: orderBy+limit → TakeOrderedAndProject (per-partition
    * heap of k, then k-merge at driver — no global sort, no full shuffle).
    */
  def q6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)

  /** Q7 ROLLUP on (returnflag, linestatus).
    *
    * Pre-aggregates to the FINEST grouping set first, then rolls up the
    * tiny aggregated table: naive `rollup` Expands every input row ×3
    * (one copy per grouping set) before the hash agg, tripling scan-stage
    * CPU and shuffle; since every rollup cell is a union of finest-level
    * cells, summing partial (count, fixed-point sum) states over ~6 rows
    * is identical output at a third of the cost. At 100 TB the Expand on
    * the raw fact table is the difference between one scan-equivalent
    * and three.
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("pc"),
        sum(toFixLong(col("l_extendedprice"), 10000)).as("ps"))
    base.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("pc")).as("c"), round(sum(col("ps")).cast("double") / 10000.0, 2).as("s"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** Q8 GROUPING SETS ((returnflag),(linestatus),()) — same finest-set
    * pre-aggregation as q7 (none of the requested sets is the finest pair,
    * but all are unions of its cells, so re-aggregating partial counts is
    * exact and the Expand touches ~6 rows, not the fact table).
    */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("pc"))
    base.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("pc")).as("c"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** Q18 scalar-function suite: string/date/math exprs after a LIKE filter.
    * p_partkey kept in the output so row identity is total/deterministic.
    */
  def q18(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_name").like("%a%"))
      .orderBy("p_partkey")
      .limit(50)
      .select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("u"),
        length(col("p_name")).cast("long").as("l"),
        round(col("p_retailprice") * 1.1, 2).as("pr"),
        year(to_date(lit("1995-01-02"))).cast("long").as("y"))

  /** Q19 set ops: UNION (distinct), INTERSECT, EXCEPT over key sets —
    * computed in ONE pass. The naive form (three `union`/`intersect`/
    * `except` subplans) scans each input three times and shuffles three
    * times; here each side is scanned once, tagged with a presence flag,
    * and a single groupBy(key) shuffle derives all three counts from the
    * (in_c, in_o) flags. The three output rows are exploded from the one
    * aggregate row. At 100 TB: one shuffle of the pruned key column total,
    * with map-side partial max() on the flags.
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey").as("k"), lit(1).as("in_c"), lit(0).as("in_o"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 100000)
      .select(col("o_custkey").as("k"), lit(0).as("in_c"), lit(1).as("in_o"))
    c.unionAll(o)
      .groupBy(col("k"))
      .agg(max(col("in_c")).as("c"), max(col("in_o")).as("o"))
      .agg(
        count(lit(1)).as("u"),
        sum(when(col("c") === 1 && col("o") === 1, 1L).otherwise(0L)).as("i"),
        sum(when(col("c") === 1 && col("o") === 0, 1L).otherwise(0L)).as("e"))
      .select(explode(array(
        struct(lit("except").as("op"), col("e").as("n")),
        struct(lit("intersect").as("op"), col("i").as("n")),
        struct(lit("union").as("op"), col("u").as("n")))).as("r"))
      .select(col("r.op"), col("r.n"))
      .orderBy("op")
  }

  /** Q22 frame-spec running sum: cumulative spend per customer over time.
    * One shuffle on o_custkey, per-partition sort, O(1) running frame.
    */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("cum",
        round(sum(toFixLong(col("o_totalprice"), 10000)).over(w).cast("double") / 10000.0, 2))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      .limit(200)
      .select("o_custkey", "o_orderkey", "cum")
  }

  /** Nearest-long fixed-point scaling of a double column WITHOUT the
    * `round()` expression: Spark's Round on DoubleType routes every row
    * through `BigDecimal(x).setScale(...)` — one BigDecimal + MathContext
    * allocation per value, measured as the dominant per-row cost of the
    * q1/q7 aggregates (r9 verdict, marginal 3.9×/3.4×; r10 re-measure
    * with this form: q1 0.73×). `floor(x·scale + 0.5)` (Spark's floor on
    * double is a primitive `Math.floor` returning LongType — full
    * codegen) equals round-half-up for BOTH signs everywhere except exact
    * .5 ties, and ties cannot occur here: true values are exact multiples
    * of 10^-decimals, so x·scale sits within ~1e-6 of an integer and
    * +0.5 never crosses the next one. Sign coverage is property-tested
    * (PropertySpec "fsum is exact ... on random 2dp values", which draws
    * negatives).
    */
  private[graft] def toFixLong(x: Column, scale: Long): Column =
    floor(x * scale.toDouble + lit(0.5)).cast("long")

  /** Exact fixed-point sum, returned as double: each addend is scaled by
    * 10^4 and rounded to the nearest integer (EXACT for every column here —
    * all inputs are 2-decimal values, so products of two of them are exact
    * 4-decimal values and the half-up rounding reconstructs them
    * identically in Spark and DuckDB), summed as LONG (codegen'd,
    * order-independent, exact), then descaled once.
    *
    * Why not double sums: order-dependent across partitionings/engines.
    * Why not decimal sums: a DECIMAL(38,x) accumulator is BigDecimal-backed
    * (~10x slower per row), and narrow decimals rounded to 2dp hit
    * half-tie rounding differences between engines on 4-decimal products.
    * Long overflow headroom: |addend| < 1.1e6 => per-group sums stay exact
    * past 8e14 rows per group.
    */
  def fsum(addend: Column): Column =
    sum(toFixLong(addend, 10000)).cast("double") / 10000.0

  /** fsum rounded to `scale` — the engine side of the oracle's dsum(). */
  def dsum(addend: Column, scale: Int): Column = round(fsum(addend), scale)

  /** q32 full outer join (SURVEY §2.2 row 8): customers vs ordering
    * customers, classifying matches/left-only/right-only in one pass.
    * Shuffles both sides on the key; null-safe classification after.
    */
  def q32(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir).select(col("o_custkey")).distinct()
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("only_c"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("only_o"),
        sum(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1L)
          .otherwise(0L)).as("both"))
  }

  /** q138: RIGHT outer join census (COVERAGE row 8's third leg — left is
    * gated by q21, full by q32; right had spec evidence only, r14 verdict
    * item 6). Orders right-outer customer on custkey preserves every
    * customer and fans out by order count, so the per-nation census
    * exercises both the null-extension side (order-less customers) and
    * the fan-out side in one gated result. Spark may build either side of
    * the broadcast hash join, but the join TYPE semantics — which rows
    * null-extend — are exactly what the oracle pins.
    */
  def q138(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    o.join(c, col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_orderless"))
      .orderBy(col("c_nationkey"))
  }

  /** q33 CUBE (SURVEY §2.2 row 19): all 2^2 grouping sets, via the same
    * finest-set pre-aggregation as q7 (Expand ×4 over ~6 rows, not the
    * fact table).
    */
  def q33(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("pc"))
    base.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("pc")).as("c"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** q37 distribution stats (SURVEY §2.2 row 15 extended): exact
    * interpolated percentiles, sample stddev, correlation. Spark's
    * percentile() and DuckDB's quantile_cont share the same interpolation,
    * verified bit-identical; stddev/corr are rounded (4/6 dp) — their
    * streaming-moment formulas agree to ~1e-12 here.
    *
    * The percentile target is pre-reduced with a codegen'd groupBy and fed
    * through percentile's frequency argument: exact percentile cost then
    * scales with DISTINCT values, not rows (l_quantity has ~50). For a
    * mostly-distinct 100 TB column, exact percentile is inherently a
    * value-sorted pass — approx_percentile is the scale path there.
    */
  def q37(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pct = li.groupBy(col("l_quantity").as("v")).agg(count(lit(1)).as("f"))
      .agg(round(percentile(col("v"), lit(0.5), col("f")), 4).as("p50"),
        round(percentile(col("v"), lit(0.95), col("f")), 4).as("p95"))
    val mom = li.agg(
      round(stddev_samp(col("l_extendedprice")), 4).as("sd"),
      round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("r"))
    pct.crossJoin(mom)
  }

  /** q49 PIVOT: revenue wide by linestatus per returnflag. Explicit pivot
    * values pin the output schema at plan time (no extra distinct-values
    * job, deterministic columns at any scale); under the hood this is one
    * hash agg with a conditional sum per pivot value — same cost as the
    * long-form agg. Oracle mirrors it as CASE-WHEN sums (sum skips NULLs
    * identically in both engines).
    */
  def q49(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("rev", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("rev"), 2))
      .orderBy("l_returnflag")

  /** q52 ranking-window suite: ntile / percent_rank / cume_dist /
    * first_value in one windowed pass — the rest of SURVEY §2.2 row 20's
    * function family beyond row_number (q5) and rank frames (q22). One
    * shuffle on o_custkey serves all four functions (same window spec →
    * one WindowExec); the total (o_totalprice desc, o_orderkey) ordering
    * makes every value — including the ntile bucket boundaries —
    * deterministic across engines.
    */
  def q52(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("nt", ntile(4).over(w))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .withColumn("fv", first(col("o_orderkey")).over(w))
      .orderBy("o_custkey", "o_orderkey")
      .limit(200)
      .select("o_custkey", "o_orderkey", "nt", "pr", "cd", "fv")
  }

  /** q53 per-group exact percentiles — q37's distribution stats, grouped.
    * Same scale discipline: pre-reduce to (group, value, frequency) with a
    * codegen'd hash agg so the exact interpolated percentile runs over ~50
    * distinct values per group instead of the fact rows. Spark percentile()
    * and DuckDB quantile_cont share linear interpolation (verified
    * bit-identical on q37).
    */
  def q53(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_quantity").as("v"))
      .agg(count(lit(1)).as("f"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(percentile(col("v"), lit(0.5), col("f")), 4).as("p50"),
        round(percentile(col("v"), lit(0.9), col("f")), 4).as("p90"))
      .orderBy("l_returnflag")

  /** q76: APPROXIMATE grouped percentiles — the 100 TB member of the
    * percentile family. q53's exact form needs every distinct (group,
    * value) pair shuffled and sorted; approx_percentile keeps a bounded
    * G-K sketch per group in the partial aggregate (state O(accuracy),
    * independent of row count) and merges map-side — the only shape that
    * survives a high-cardinality value column at cluster scale. Declared
    * no-oracle (sketch merge order is partitioning-dependent); the spec
    * pins it instead: with accuracy 10 000 the rank error is ≤ n/10 000,
    * so each approx percentile must land inside the exact [p−0.01, p+0.01]
    * quantile envelope computed by q53's machinery.
    */
  def q76(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_percentile(col("l_quantity"), lit(0.5), lit(10000)).as("ap50"),
        approx_percentile(col("l_quantity"), lit(0.9), lit(10000)).as("ap90"))
      .orderBy("l_returnflag")

  /** q54 correlated scalar subquery, decorrelated: orders costing more than
    * 1.5× their own customer's average order value. The SQL formulation
    * re-evaluates a correlated `(SELECT avg ... WHERE same custkey)` per
    * row; the engine decorrelates it into a per-customer window aggregate —
    * ONE shuffle on o_custkey, no second scan, no join.
    *
    * The comparison is pure integer math: with pk = round(price·10⁴) and
    * (ws, wc) the customer's fixed-point sum/count, `price > 1.5·avg` ⟺
    * `2·pk·wc > 3·ws` — exact in both engines, no float-division drift on
    * boundary rows. Headroom: pk < 6e9, ×2×wc(≤~50) ≪ 2⁶³.
    */
  def q54(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("pk", toFixLong(col("o_totalprice"), 10000))
      .withColumn("ws", sum(col("pk")).over(w))
      .withColumn("wc", count(lit(1)).over(w))
      .filter(col("pk") * 2 * col("wc") > col("ws") * 3)
      // cust_avg: integer floor-division in 1e-4 units, descaled once — NO
      // round() call. round(avg, 2) hits half-ties (e.g. .855) where Spark
      // and DuckDB legitimately disagree on the double's shortest repr;
      // floor division of exact longs is engine-independent.
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        (expr("ws DIV wc").cast("double") / 10000.0).as("cust_avg"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(100)
  }

  /** q56 fuzzy string matching: edit-distance near-dup part names, blocked.
    * The data-cleaning member of the dedup family (exact q14 / MinHash q15 /
    * SimHash q27 / cosine q36): pairs at Levenshtein distance ≤ 4, reported
    * as a distance histogram.
    *
    * Scale shape — three stacked reductions, all lossless for the d ≤ 4
    * histogram:
    *  1. DEDUPE-FIRST: distance is a function of the name VALUES, so rows
    *     collapse to (name, count) before any pairing (one hash-agg
    *     shuffle). Pair multiplicities come back as count products. This
    *     is the decisive cut on low-cardinality columns — here 20 000 rows
    *     hold ~100 distinct names, so ~50M row pairs become ~5 000 value
    *     pairs (round 4 benched the row-level scan at ~500 s; this runs in
    *     well under a second) — and at 100 TB it bounds the pair scan by
    *     distinct-value count, not row count.
    *  2. 4-char name prefix block (the oracle blocks identically, so the
    *     contract is symmetric).
    *  3. Length band of width 8: d ≤ 4 implies |len(a)−len(b)| ≤ 4, so a
    *     qualifying pair's bands differ by at most 1. Side `a` fans out to
    *     bands {b−1, b, b+1} (exactly one of which equals side b's band —
    *     each pair is matched once, never twice), making the join key
    *     (prefix, band): a hot prefix subdivides by length before any
    *     pairing, so one dominant prefix cannot go quadratic even when
    *     distinct names are many. OperatorsSpec plants such a hot prefix
    *     and asserts the sub-blocking bound.
    * The threshold form levenshtein(a, b, 4) runs the banded DP and bails
    * at -1 once the distance exceeds 4 — O(len·k) per pair, not O(len²).
    */
  def q56(spark: SparkSession, dir: String): DataFrame =
    fuzzyNameHistogram(Tables.part(spark, dir).select(col("p_name")))

  /** q56's engine over any single-column `p_name` DataFrame (factored out
    * so OperatorsSpec can drive it with a planted hot-prefix corpus).
    */
  def fuzzyNameHistogram(parts: DataFrame): DataFrame = {
    // Dedupe-first: the distance is a function of the NAME VALUES, so the
    // row-level O(Σ block²) pair scan collapses to a distinct-name pair
    // scan weighted by count products. Row-pair accounting (every unordered
    // row pair has exactly one p_partkey ordering, so it is counted once):
    //  - two rows with the SAME name: d = 0, cnt·(cnt−1)/2 pairs per name;
    //  - rows with different names a < b (string order dedupes the pair):
    //    cnt_a · cnt_b pairs at d = levenshtein(a, b).
    val names = parts
      .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
      .withColumn("pfx", substring(col("p_name"), 1, 4))
      .withColumn("band", floor(length(col("p_name")) / 8).cast("int"))
    val same = names
      .select(lit(0).as("d"), expr("(cnt * (cnt - 1)) DIV 2").as("pc"))
      .filter(col("pc") > 0)
    val fanned = names.select(col("p_name"), col("cnt"), col("pfx"),
      explode(array(col("band") - 1, col("band"), col("band") + 1)).as("bk"))
    val cross = fanned.as("a").join(names.as("b"),
        col("a.pfx") === col("b.pfx") && col("a.bk") === col("b.band") &&
          col("a.p_name") < col("b.p_name"))
      .select(levenshtein(col("a.p_name"), col("b.p_name"), 4).as("d"),
        (col("a.cnt") * col("b.cnt")).as("pc"))
      .filter(col("d") >= 0)
    same.unionAll(cross)
      .groupBy("d").agg(sum(col("pc")).as("c"))
      .orderBy("d")
  }

  /** q50 UNPIVOT: per-returnflag aggregates melted to long form — the
    * inverse reshape (id column, measure name, value). `unpivot` is a
    * per-row projection ×#measures, no shuffle beyond the feeding agg.
    */
  def q50(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "measure", "value")
      .orderBy("l_returnflag", "measure")

  /** q60: second-moment statistics (Pearson correlation, population
    * covariance, population stddev) per return flag — computed from
    * INTEGER-EXACT cent sums rather than Spark's built-in corr/covar_pop,
    * whose float accumulation is partition-order-dependent and can never
    * hash-match another engine. Each value is fixed-pointed (×100 → exact
    * cents), every sum/product accumulates in decimal(38,0) (a per-group
    * ee term reaches ~6×10¹⁹ at sf0.1 — past long range, trivially inside
    * 38 digits), and the closed-form moments are evaluated in double ONLY
    * at the very end, with the identical expression shape the oracle uses —
    * so both engines perform the same IEEE ops on the same exact inputs.
    * One partial+final hash agg; linear at 100 TB like q1.
    */
  def q60(spark: SparkSession, dir: String): DataFrame = {
    val qi = toFixLong(col("l_quantity"), 100).cast("decimal(18,0)")
    val ei = toFixLong(col("l_extendedprice"), 100).cast("decimal(18,0)")
    val agg = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), qi.as("qi"), ei.as("ei"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("qi")).as("q"),
        sum(col("ei")).as("e"),
        sum(col("qi") * col("qi")).as("qq"),
        sum(col("ei") * col("ei")).as("ee"),
        sum(col("qi") * col("ei")).as("qe"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    agg.select(
        col("l_returnflag"),
        col("n"),
        round((nd * d("qe") - d("q") * d("e")) /
          (sqrt(nd * d("qq") - d("q") * d("q")) *
           sqrt(nd * d("ee") - d("e") * d("e"))), 6).as("corr_qty_price"),
        round((nd * d("qe") - d("q") * d("e")) / (nd * nd) / 10000.0, 6)
          .as("covar_pop_qty_price"),
        round(sqrt(nd * d("qq") - d("q") * d("q")) / nd / 100.0, 6)
          .as("stddev_pop_qty"))
      .orderBy("l_returnflag")
  }
}
