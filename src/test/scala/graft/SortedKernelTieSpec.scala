package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Events

/** Tie-semantics pins for the sorted-layout kernels.
  *
  * The driver testdata contains ZERO per-user timestamp ties (checked at
  * all three SFs), so the SF-level parity gates in BucketedJoinSpec
  * never exercise the tie paths: q21's same-ts candidate
  * slot, q13/q71's event_id attribution order, q51's strict-`>` stage
  * boundaries, q12's exactly-at-the-gap edge. This spec crafts a frame
  * where every one of those edges occurs, pins the DECLARATIVE answers by
  * hand where they are tie-sensitive (the DuckDB oracle never saw a tie
  * either), and asserts each kernel equals its declarative form on a
  * genuinely laid-out input.
  */
class SortedKernelTieSpec extends SparkSpec {

  private def us(day: Int, h: Int, m: Int, s: Int = 0, micro: Long = 0L): Long = {
    // 2024-01-01 is a Monday — day 1 == epoch day 19723, week offsets exact
    val epochDay = java.time.LocalDate.of(2024, 1, day).toEpochDay
    (epochDay * 86400L + h * 3600L + m * 60L + s) * 1000000L + micro
  }

  /** (event_id, ts_us, user_id, event_type) → events-shaped frame. */
  private def mkEvents(rows: Seq[(Long, Long, Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("event_id", "ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  private val rows: Seq[(Long, Long, Long, String)] = Seq(
    // user 1 — q21 tie edges
    (1L, us(1, 10, 0), 1L, "purchase"),
    (2L, us(1, 10, 0), 1L, "error"),    // same-ts purchase must NOT match → null
    (3L, us(1, 10, 5), 1L, "purchase"),
    (4L, us(1, 10, 5), 1L, "purchase"), // tie purchases: higher event_id wins
    (5L, us(1, 10, 10), 1L, "error"),   // → 4
    (6L, us(1, 10, 20), 1L, "purchase"),
    (7L, us(1, 10, 20), 1L, "error"),   // same-ts e6 excluded → still 4
    (8L, us(1, 11, 0), 1L, "error"),    // → 6
    // user 2 — q51 strict-> edges + an error before any purchase
    (10L, us(1, 9, 0), 2L, "error"),    // → null
    (11L, us(1, 9, 30), 2L, "view"),
    (12L, us(1, 9, 30), 2L, "click"),   // click at view's ts: NOT qualifying
    (13L, us(1, 9, 45), 2L, "click"),   // qualifies
    (14L, us(1, 9, 45), 2L, "purchase"),// purchase at click's ts: NOT qualifying
    (15L, us(1, 10, 30), 2L, "purchase"), // qualifies → full funnel
    // user 3 — click-before-view + q12 exactly-30-min boundary
    (21L, us(1, 11, 0), 3L, "click"),   // precedes the view: never qualifies
    (20L, us(1, 12, 0), 3L, "view"),
    (22L, us(1, 12, 30), 3L, "click"),  // qualifies; no purchase → no funnel
    (23L, us(1, 13, 0), 3L, "event"),
    (24L, us(1, 13, 30), 3L, "event"),  // gap == 1800 s exactly: SAME session
    (25L, us(1, 14, 0, 0, 1L), 3L, "event"), // 1800 s + 1 µs: NEW session
    // user 4 — q70 week-boundary edges (2024-01-01 Monday / 01-07 Sunday /
    // 01-08 Monday; two events inside week 3)
    (30L, us(1, 8, 0), 4L, "event"),
    (31L, us(7, 23, 59), 4L, "event"),  // still week 0
    (32L, us(8, 0, 0), 4L, "event"),    // week 1, first instant
    (33L, us(22, 9, 0), 4L, "event"),   // week 3
    (34L, us(24, 9, 0), 4L, "event"),   // week 3 again: one distinct row
    // user 5 — cohort that is not week 0
    (40L, us(9, 10, 0), 5L, "event"),
    (41L, us(16, 10, 0), 5L, "event"))

  private lazy val plain = mkEvents(rows)
  private lazy val layout = plain
    .repartition(2, col("user_id"))
    .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))

  test("q21 declarative form pinned by hand on ties, kernel equal") {
    val expected = Seq(
      (2L, None), (5L, Some(4L)), (7L, Some(4L)), (8L, Some(6L)), (10L, None))
    val decl = Events.q21From(plain).collect().toSeq
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(decl == expected, s"declarative q21 tie semantics drifted: $decl")
    assert(Events.q21FromSortedKernel(layout).collect().toSeq ==
      Events.q21From(plain).collect().toSeq)
  }

  test("q51 strict-> boundaries pinned by hand, kernel equal") {
    val decl = Events.q51From(plain).collect().head
    assert((decl.getLong(0), decl.getLong(1), decl.getLong(2)) == ((2L, 2L, 1L)),
      s"declarative q51 boundary semantics drifted: $decl")
    assert(Events.q51FromSortedKernel(layout).collect().toSeq ==
      Events.q51From(plain).collect().toSeq)
  }

  test("q12 exactly-at-gap edge pinned by hand, kernel equal") {
    // u1: 10:20→11:00 (40 min) splits → 2; u2: 09:00→09:30 is exactly 30 min
    // (same) then 09:45→10:30 (45 min) splits → 2; u3: 11:00→12:00 splits,
    // 13:00→13:30 exact-gap merges, +1 µs splits → 3; u4: Sunday 23:59 →
    // Monday 00:00 is ONE MINUTE (the week splits for q70, not the
    // session), other gaps are days → 4; u5: 2 far-apart → 2. Total 13.
    assert(Events.q12From(plain).collect().head.getLong(0) == 13L)
    assert(Events.q12FromSortedKernel(layout).collect().toSeq ==
      Events.q12From(plain).collect().toSeq)
  }

  test("q13 / q71 tie attribution follows event_id order, kernels equal") {
    // ties exist at (u1 10:00), (u1 10:05), (u1 10:20), (u2 09:30),
    // (u2 09:45): the zero-gap rows force the event_id attribution path
    assert(Events.q13FromSortedKernel(layout).collect().toSeq ==
      Events.q13From(plain).collect().toSeq)
    assert(Events.q71FromSortedKernel(layout).collect().toSeq ==
      Events.q71From(plain).collect().toSeq)
  }

  test("kernels throw loudly on a mis-laid-out frame instead of answering") {
    // one partition sorted by ts ALONE: users interleave (u2's 09:xx rows
    // precede u1's 10:xx, then u1's 11:00 follows u2's 10:30), so the
    // in-kernel ascending-(user_id, ts) guard must fire — a silently
    // wrong single-pass answer is the failure mode the guard exists for.
    // (A repartition by event_id would NOT do: the single-mapper shuffle
    // preserves the source's user-ascending order inside every bucket.)
    val bad = plain.repartition(1).sortWithinPartitions(col("ts"))
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    val kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
      ("q12", Events.q12FromSortedKernel(_)),
      ("q13", Events.q13FromSortedKernel),
      ("q21", Events.q21FromSortedKernel),
      ("q51", Events.q51FromSortedKernel),
      ("q70", Events.q70FromSortedKernel),
      ("q71", Events.q71FromSortedKernel))
    kernels.foreach { case (name, kernel) =>
      val e = intercept[Throwable] { kernel(bad).collect() }
      assert(rootMessages(e).exists(_.contains("not the (user_id, ts)-sorted layout")),
        s"$name kernel did not raise the layout guard on unsorted input: $e")
    }
  }

  test("q70 week arithmetic matches Spark's date_trunc across eras (seeded random ts)") {
    // the kernel computes Monday-aligned week starts in integer day
    // arithmetic (d - ((d+3) mod 7)); this pins it against Spark's own
    // date_trunc('week') over ~60 years INCLUDING pre-1970 negative
    // micros (Math.floorDiv/floorMod territory) and second-resolution
    // jitter around day boundaries — the hand-pinned cases above cover
    // the named edges, this covers the era space
    val rng = new scala.util.Random(20260815L)
    val spanMicros = 60L * 365 * 86400L * 1000000L // ~1968..2028
    val t0 = -2L * 365 * 86400L * 1000000L
    val rows = (0 until 400).map { i =>
      (1000L + i, t0 + (rng.nextDouble() * spanMicros).toLong, (i % 23).toLong, "event")
    }
    val df = mkEvents(rows)
    val laid = df.repartition(3, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
    assert(Events.q70FromSortedKernel(laid).collect().toSeq ==
      Events.q70From(df).collect().toSeq)
  }

  test("q70 week boundaries pinned by hand, kernel equal") {
    val expected = Seq(
      ("2024-01-01", 0L, 4L), // users 1,2,3,4 active in their cohort week 0
      ("2024-01-01", 1L, 1L), // user 4 at Monday 01-08 00:00 sharp
      ("2024-01-01", 3L, 1L), // user 4's two week-3 events dedup to one
      ("2024-01-08", 0L, 1L), // user 5's cohort is week 1
      ("2024-01-08", 1L, 1L))
    val decl = Events.q70From(plain).collect().toSeq
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(decl == expected, s"declarative q70 week semantics drifted: $decl")
    assert(Events.q70FromSortedKernel(layout).collect().toSeq ==
      Events.q70From(plain).collect().toSeq)
  }
}
