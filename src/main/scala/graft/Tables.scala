package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `dir` (e.g.
  * `/root/testdata/sf0.01`). At 100 TB these would be partitioned
  * directories; `spark.read.parquet` handles both transparently, and all
  * query code below depends only on schema, not layout.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, dir, table): `spark.read.parquet` pays driver-
    * side file listing + footer schema inference on EVERY call, and a
    * Dataset's analyzed plan / queryExecution is cached per OBJECT — so
    * handing back the same Dataset makes repeated query builds (bench runs,
    * interactive reuse) skip ~0.3–0.5 s of pure plan-construction overhead.
    * Safe because Datasets are immutable and the test tables are static;
    * sessions here are process-lived, so strong keys don't leak. Paths the
    * engine WRITES (Stash stores, stream sinks) never go through Tables.
    *
    * ALIASING CONTRACT: repeated loads return the IDENTICAL DataFrame
    * object, so its expression IDs are shared. Any query that self-joins a
    * table must alias each side (`load(...).as("l")` / `.as("r")`) or
    * derive fresh attributes (select-with-rename) before joining —
    * otherwise the join condition resolves trivially-true/ambiguous.
    * Every current self-join in the repo does this (q15/q36 rename, q59
    * windows); the contract is recorded here because fresh exprIds per
    * call used to mask the mistake.
    *
    * Memo identity is the table path, its generation the path's
    * [[Fingerprint]] (metadata-only listing, recomputed per call —
    * microseconds against the ~0.3–0.5 s of plan construction the memo
    * saves), so a table regenerated in place mid-session gets a fresh
    * frame on the next load instead of a stale cached plan whose file
    * listing no longer matches (r15 verdict 3).
    */
  private[graft] val memo = new SourceMemo[String, DataFrame]()

  /** NANOS-clone frames of events, per (dir, caller time zone) — see
    * [[events]].
    */
  private[graft] val clones = new SourceMemo[(String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    memo.get(spark, path, Fingerprint.of(spark, path))(_ => spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across testdata generations, so the loader adapts to
    * the schema it actually finds instead of hard-coding one physical type:
    *
    *  - NANOS: Spark 4's reader rejects it outright (PARQUET_TYPE_ILLEGAL),
    *    so we keep `nanosAsLong` set — the column arrives as LongType and we
    *    truncate to microseconds, Spark's native precision. The DuckDB
    *    oracle truncates identically via epoch_us().
    *  - MICROS (isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ; we cast
    *    to TimestampType so every consumer sees one type. All engine-owned
    *    sessions pin spark.sql.session.timeZone=UTC, making the cast
    *    value-identical to the stored microseconds (and to DuckDB's naive
    *    read of the same file).
    *  - MICROS/MILLIS (isAdjustedToUTC=true): already TimestampType;
    *    pass through.
    *
    * The nanosAsLong conf is needed only for the NANOS variant, and it is
    * NOT set on the caller's session (r10 verdict: the old lazy session-wide
    * set leaked into callers' later reads of OTHER nanos parquet, silently
    * turning their type error into LongType). Instead: try the plain read
    * first — MICROS/NTZ variants (every recent testdata generation) need no
    * conf at all — and only when that read rejects the footer, rebuild the
    * scan on a CLONED session (shares the SparkContext, owns its SQLConf)
    * with nanosAsLong set. The relation captures the clone, so the conf
    * holds at execution re-planning no matter which session runs the
    * action — per-read set/unset on the caller's session would NOT be safe
    * (the conf is consulted again at scan execution, not just at schema
    * inference). Engine-owned sessions (Session.local, which Verify uses)
    * set it at build time and take the LongType branch directly.
    * EventsSchemaDriftSpec proves the caller-session conf stays untouched.
    *
    * CONF-FREEZE CONTRACT (r11 advice): the clone copies the caller's
    * modifiable runtime confs ONCE, when the fallback first fires. The
    * clone memo's identity carries the caller's session time zone — the
    * one copied conf that changes scan-visible values (the NTZ→TIMESTAMP
    * cast and timestamp rendering) — so a caller that changes its
    * timezone after a first read gets a FRESH clone, not the stale one. Other confs copied
    * at clone time stay frozen for the cached frame's life; they affect
    * expression semantics layered on top of the scan, which the returned
    * frame does not contain. Cost of the tz key: each DISTINCT timezone a
    * caller uses retains one clone for the process — fine for the
    * engine's fixed-UTC sessions and any sane caller; a caller cycling
    * through many timezones over NANOS data pays one clone each (bounded
    * by the ~600 zone ids, and correctness beats the old stale-conf read).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val tz = scala.util.Try(s.conf.get("spark.sql.session.timeZone")).getOrElse("")
    val path = s"$d/events.parquet"
    val id = (d, tz)
    def nanosClone(): DataFrame = clones.get(s, id, Fingerprint.of(s, path)) { _ =>
      // newSession shares the SparkContext but owns its SQLConf; copy the
      // caller's modifiable runtime confs across (timezone included) so
      // the scan's session differs from the caller's in exactly one conf
      // (cloneSession would do this in one call but is private[sql])
      val clone = s.newSession()
      s.conf.getAll.foreach { case (k, v) =>
        if (clone.conf.isModifiable(k)) clone.conf.set(k, v)
      }
      clone.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      clone.read.parquet(path)
    }
    // a prior call that fell back to the NANOS clone already proved the
    // plain read fails for this generation — go straight to the cached
    // clone frame instead of re-paying a failing file-listing + footer
    // inference on every call
    val raw =
      if (clones.completed(s, id, Fingerprint.of(s, path))) nanosClone()
      else try load(s, d, "events")
      catch { case primary: Exception =>
        // presumed NANOS footer rejection; retried on an isolated clone.
        // If the clone read fails too, the file is genuinely unreadable —
        // surface the ORIGINAL error, not the retry's.
        try nanosClone() catch { case _: Exception => throw primary }
      }
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      // Only the three physical variants that have actually shipped are
      // accepted. A catch-all cast here would silently mis-scale a future
      // drift (e.g. INT ts read as epoch SECONDS, or STRING ts parsing to
      // nulls) AND defeat probeSchemas, which inspects this post-transform
      // frame and would see a well-typed TimestampType. Fail loudly instead.
      case other => throw new IllegalStateException(
        s"$d/events.parquet: ts arrived as ${other.sql}; Tables.events handles " +
        "LONG (nanosAsLong), TIMESTAMP and TIMESTAMP_NTZ only — the testdata " +
        "generator's physical schema drifted again, extend the loader deliberately.")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Cheap startup schema probe — parquet footer reads only, no data scan.
    *
    * Asserts the driver-generated testdata carries the column types the
    * engine's hot paths assume, failing with ONE readable error that names
    * the file and the offending type instead of 17 scattered
    * AnalysisExceptions downstream. Motivated by the round-7/8 incident: a
    * silent testdata regeneration flipped events.ts TIMESTAMP(NANOS) →
    * TIMESTAMP(MICROS) and took out every events-derived query; this probe
    * makes the next such drift fail loudly in one place. Verify calls it
    * at startup.
    */
  def probeSchemas(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.types._
    val tsLike: DataType => Boolean =
      dt => dt == TimestampType || dt == TimestampNTZType
    val checks: Seq[(String, DataFrame, Seq[(String, DataType => Boolean, String)])] = Seq(
      ("lineitem", lineitem(s, dir), Seq(
        ("l_orderkey", (_: DataType) == LongType, "BIGINT"),
        ("l_quantity", (_: DataType) == DoubleType, "DOUBLE"),
        ("l_shipdate", tsLike, "TIMESTAMP[_NTZ]"))),
      ("orders", orders(s, dir), Seq(
        ("o_custkey", (_: DataType) == LongType, "BIGINT"),
        ("o_totalprice", (_: DataType) == DoubleType, "DOUBLE"),
        ("o_orderdate", tsLike, "TIMESTAMP[_NTZ]"))),
      ("events", events(s, dir), Seq(
        ("ts", (_: DataType) == TimestampType, "TIMESTAMP (via Tables.events)"),
        ("user_id", (_: DataType) == LongType, "BIGINT"),
        ("event_type", (_: DataType) == StringType, "STRING"),
        ("value", (_: DataType) == DoubleType, "DOUBLE"),
        ("props", (_: DataType) == StringType, "STRING"))),
      ("documents", documents(s, dir), Seq(
        ("doc_id", (_: DataType) == LongType, "BIGINT"),
        ("text", (_: DataType) == StringType, "STRING"))),
      ("embeddings", embeddings(s, dir), Seq(
        ("vec_id", (_: DataType) == LongType, "BIGINT"),
        ("embedding", (dt: DataType) => dt match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }, "ARRAY<FLOAT>"))))
    val errs = checks.flatMap { case (t, df, cols) =>
      cols.flatMap { case (c, ok, want) =>
        df.schema.fields.find(_.name == c) match {
          case None => Some(s"$dir/$t.parquet: column '$c' missing " +
            s"(file has: ${df.schema.fieldNames.mkString(", ")})")
          case Some(f) if !ok(f.dataType) =>
            Some(s"$dir/$t.parquet: column '$c' is ${f.dataType.sql}, engine needs $want")
          case _ => None
        }
      }
    }
    if (errs.nonEmpty) throw new IllegalStateException(
      "testdata schema probe FAILED — the generator's physical schema drifted:\n  "
        + errs.mkString("\n  "))
    System.err.println(s"[graft] schema probe OK: ${checks.size} tables at $dir " +
      s"(events.ts → ${events(s, dir).schema("ts").dataType.sql})")
  }

  /** Register all tables as temp views (for spark.sql surface + tests).
    * events goes through its dedicated loader so the view carries the
    * microsecond-truncated timestamp, not the unreadable NANOS raw column.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach {
      case "events" => events(spark, dir).createOrReplaceTempView("events")
      case n => load(spark, dir, n).createOrReplaceTempView(n)
    }
}
