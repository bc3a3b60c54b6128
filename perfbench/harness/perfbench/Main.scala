package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Exec, Layouts, Session, SparkEntry, Tables}

/** One timed call into the engine. `traced` marks ops run with tracing on
  * (only in --trace 1 runs, every other round).
  */
final case class Op(round: Int, name: String, ms: Double, ok: Boolean,
    form: String, rows: Long, traced: Boolean, id: Int, kind: String)

/** What an op hands back: the form that answered, the rows the caller got,
  * and a check of the result that runs after the clock stops.
  */
final case class Answer(form: String, rows: Long, check: () => Boolean)

/** Closed-loop, single-client benchmark harness for the engine's public entry
  * points. Writes raw samples as JSON to `--out`; `run.py` turns them into
  * the reported metrics and checks the set-up results against DuckDB.
  *
  * Args: --workload olap|pipeline|kv --seed N --seconds S
  *       --trace 0|1 --data DIR --work DIR --out FILE --cores N
  */
object Main {

  /** The logical queries of Exec's registry, in a fixed order. */
  val OlapQueries: Seq[String] = Exec.registry.keys.toSeq.sortBy(q =>
    (q.filter(_.isDigit).toInt, q))

  /** The shorter LLM-data jobs (about 0.4-1.3 s each): q81's curation
    * funnel, q48's incremental near-dup ingest (the streaming store write),
    * q88's ANN search, q90's LR classifier and q83's codec round trip. The
    * slow q142, q79 and q63 would stretch a round past the run budget.
    */
  val PipelineQueries: Seq[String] = Seq(
    "q81_curation_funnel", "q48_incremental_neardup", "q88_ann_ivfadc",
    "q90_lr_quality", "q83_codec_roundtrip")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val cores = a("cores").toInt
    val ctx = new Ctx(workload, seed, seconds, traceRun, a("data"), a("work"), cores)
    val out = try ctx.run() catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(3)
    }
    Files.writeString(Paths.get(a("out")), out)
  }
}

/** A workload: `setup` runs once (including one warm round), `round(r)` runs
  * round r (0 = an untimed warm round), `after` runs once after the timed
  * phase of a traced run.
  */
final case class Workload(setup: () => Unit, round: Int => Unit, after: () => Unit = () => ())

/** What a workload uses from the harness: timed ops, spans, set-up parts. */
trait Harness {
  def op(round: Int, name: String, kind: String)(body: => Answer): Unit
  def span[T](layer: String, name: String)(body: => T): T
  def setupPart[T](part: String)(body: => T): T
  def note(key: String, value: Any): Unit
}

final class Ctx(workload: String, seed: Long, seconds: Double, traceRun: Boolean,
    dir: String, work: String, cores: Int) extends Harness {

  private val tracer = new Tracer
  private val counters = new SparkCounters
  private val rng = new Random(seed)
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val setupParts = mutable.LinkedHashMap.empty[String, Double]
  private val validMs = mutable.ArrayBuffer.empty[Double]
  private var spark: SparkSession = _
  private var opSeq = 0
  /** Wall time the benchmark spends on its own checks during set-up (result
    * dumps for the DuckDB comparison); subtracted from setup_s.
    */
  private var checkNs = 0L

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
  def note(key: String, value: Any): Unit = extra(key) = value
  def setupPart[T](part: String)(body: => T): T = timed(part)(body)

  private def timed[T](part: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(part.takeWhile(_ != '.'), part)(body)
    setupParts(part) = setupParts.getOrElse(part, 0.0) + ms(t0)
    r
  }

  def run(): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // set-up is traced in a traced run; rounds then alternate
    tracer.enabled = traceRun
    spark = timed("session.build")(Session.local(cores, appName = "perfbench"))
    if (traceRun) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }

    val w = workload match {
      case "olap" => olap()
      case "pipeline" => pipeline()
      case "kv" => new Kv(spark, this, s"$work/kv", rng).workload()
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    w.setup()
    // ops of the warm round are set-up checks, not timed samples
    val setupChecks = ops.size
    val setupFailed = ops.count(!_.ok)
    ops.clear()

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - checkNs / 1e9
    val roundsS = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    var round = 0
    // closed loop: whole rounds until the run time is used. A traced run
    // alternates traced (even) and untraced (odd) rounds and needs at least
    // one of each after round 1, which the overhead comparison leaves out.
    while (round < (if (traceRun) 3 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      round += 1
      val traced = traceRun && round % 2 == 0
      tracer.enabled = traced
      val before = ops.size
      w.round(round)
      roundsS += ((round, ops.drop(before).map(_.ms).sum / 1e3, traced))
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    tracer.enabled = false

    extra("jvm_gc_ms_timed") = gcMs() - gc0
    // Spark frees persisted and checkpointed blocks from its ContextCleaner
    // thread once a collection has found their RDDs unreachable, so one
    // collection can still count them; collect until the figure stops
    // falling
    def heapAfterGc(): Double = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    @annotation.tailrec
    def settle(prev: Double, tries: Int): Double = {
      val now = heapAfterGc()
      if (now < prev * 0.99 && tries < 8) settle(now, tries + 1) else math.min(prev, now)
    }
    val mem = settle(heapAfterGc(), 1)
    if (traceRun) w.after()
    spark.stop()

    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traceRun, "cores" -> cores,
      "setup_s" -> setupS,
      "setup_parts_ms" -> setupParts.toMap,
      "elapsed_s" -> elapsedS,
      "retained_heap_mb" -> mem,
      "rounds" -> roundsS.toSeq.map { case (r, s, t) => Map("round" -> r, "s" -> s, "traced" -> t) },
      "ops" -> ops.toSeq.map(p => Map("round" -> p.round, "name" -> p.name, "ms" -> p.ms,
        "ok" -> p.ok, "form" -> p.form, "rows" -> p.rows, "traced" -> p.traced,
        "kind" -> p.kind)),
      "setup_checks" -> setupChecks,
      "setup_failed" -> setupFailed,
      "exec_valid_ms" -> validMs.toSeq,
      "failures" -> failures.toSeq) ++ extra ++
      (if (traceRun) Map("layers" -> layers(roundsS.toSeq)) else Map.empty)
    if (traceRun) writeSpans()
    Json(out)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** One op, timed around the whole call including the collect. A traced
    * op tags its Spark jobs with its id.
    */
  def op(round: Int, name: String, kind: String)(
      body: => Answer): Unit = {
    opSeq += 1
    val traced = tracer.enabled
    if (traced) spark.sparkContext.setLocalProperty(counters.Prop, opSeq.toString)
    val t0 = System.nanoTime()
    val answer =
      try tracer.op(opSeq, name)(body)
      catch {
        case e: Exception =>
          failures += s"$name round $round: ${e.toString.take(300)}"
          Answer("error", 0L, () => false)
      }
    val took = ms(t0)
    if (traced) spark.sparkContext.setLocalProperty(counters.Prop, null)
    val ok = answer.form != "error" && answer.check()
    if (answer.form != "error" && !ok)
      failures += s"$name round $round: result differs from the expected result"
    ops += Op(round, name, took, ok, answer.form, answer.rows, traced, opSeq, kind)
  }

  // ---- olap ---------------------------------------------------------------

  private def collect(df: DataFrame): Array[Row] =
    tracer.span("collect", "collect")(df.collect())

  private def olap(): Workload = {
    val digests = mutable.Map.empty[String, String]
    def runQuery(q: String): (String, Array[Row], DataFrame) = {
      val (form, df) = tracer.span("exec", "Exec.runNamed")(Exec.runNamed(spark, dir, q))
      (form, collect(df), df)
    }

    val warm = () => {
      timed("tables.probe")(Tables.probeSchemas(spark, dir))
      Tables.names.foreach(t => timed("tables.load") {
        if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
      })
      // one untimed warm round; its results are the reference for every
      // later round and are dumped for the DuckDB comparison
      val warmT = System.nanoTime()
      val results = Main.OlapQueries.map { q =>
        val (form, rows, df) = runQuery(q); (q, form, rows, df)
      }
      setupParts("warm_round") = ms(warmT)
      val c0 = System.nanoTime()
      results.foreach { case (q, form, rows, df) =>
        digests(q) = Digest(rows)
        val out = s"$work/results/$q"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(out)
      }
      checkNs += System.nanoTime() - c0
      extra("oracle_sql") = Main.OlapQueries.map(q => q -> oracleFor(q)).toMap
    }

    val round = (r: Int) => {
      rng.shuffle(Main.OlapQueries).foreach { q =>
        var form = ""
        op(r, q, "query") {
          val (f, rows, _) = runQuery(q)
          form = f
          Answer(f, rows.length, () => Digest(rows) == digests(q))
        }
        if (tracer.enabled) timeValidity(q, form)
      }
    }
    // staged probe of a traced run: stage the events layout, then one
    // untimed round through Exec.runFamily, so the traced run also measures
    // graft.Layouts
    val after = () => {
      timed("layouts.stage")(Layouts.eventsByUserCached(spark, dir))
      val t0 = System.nanoTime()
      val answers = Exec.runFamily(spark, dir, Main.OlapQueries).map { case (q, form, df) =>
        val ok = Digest(df.collect()) == digests(q)
        if (!ok) failures += s"$q staged probe: result differs from the set-up result"
        (form, ok)
      }
      extra("staged_probe") = Map("round_s" -> ms(t0) / 1e3, "forms" -> answers.map(_._1),
        "checks" -> answers.size, "failed" -> answers.count(!_._2))
    }
    Workload(warm, round, after)
  }

  /** SparkEntry oracle text for a logical query: its declarative twin's. */
  private def oracleFor(q: String): String = {
    val sql = SparkEntry.oracleSql
    sql.keys.find(k => k.startsWith(q + "_")).map(sql).getOrElse("")
  }

  /** exec.valid: each Form.valid that Exec called for this op (every form
    * up to the chosen one; the declarative last form has none), called again
    * after the op so the op's own time is untouched.
    */
  private def timeValidity(q: String, chosen: String): Unit = {
    val forms = Exec.registry(q)
    forms.init.take(forms.indexWhere(_.name == chosen) + 1).foreach { f =>
      val t0 = System.nanoTime()
      f.valid(spark, dir)
      validMs += ms(t0)
    }
  }

  // ---- pipeline -----------------------------------------------------------

  private def pipeline(): Workload = {
    val digests = mutable.Map.empty[String, String]
    def runQuery(q: String): Array[Row] =
      collect(tracer.span("pipeline", q)(SparkEntry.queries(q)(spark, dir)))
    val warm = () => {
      timed("tables.probe")(Tables.probeSchemas(spark, dir))
      val warmT = System.nanoTime()
      Main.PipelineQueries.foreach(q => digests(q) = Digest(runQuery(q)))
      setupParts("warm_round") = ms(warmT)
    }
    val round = (r: Int) =>
      rng.shuffle(Main.PipelineQueries).foreach { q =>
        op(r, q, "query") {
          val rows = runQuery(q)
          Answer(q, rows.length, () => Digest(rows) == digests(q))
        }
      }
    Workload(warm, round)
  }

  // ---- traced-run reporting ---------------------------------------------

  private def layers(rounds: Seq[(Int, Double, Boolean)]): Map[String, Any] = {
    val traced = ops.filter(_.traced)
    val byOp = counters.opCounters
    val tracedRounds = rounds.filter(_._3).map(_._1)
    def perRound(f: OpCounters => Double): Seq[Double] = tracedRounds.map { r =>
      traced.filter(_.round == r).flatMap(o => byOp.get(o.id)).map(f).sum
    }
    val ids = traced.map(_.id).toSet
    val spans = tracer.recorded.filter(s => ids.contains(s.op))
    import scala.jdk.CollectionConverters._
    val jobs = counters.jobSpans.asScala.toSeq.filter(j => ids.contains(j.op))
    val self = SelfTime.byLayer(spans, jobs)
    val opSpans = spans.filter(_.layer == "op")
    val plans = counters.plans.asScala.toSeq.filter(p =>
      opSpans.exists(s => s.startUs <= p.startUs && p.startUs <= s.endUs))
    def layerMs(layer: String) = spans.filter(_.layer == layer).map(_.durUs / 1e3)
    // per-op counter signature across rounds: the load-proof counters
    val sigs = traced.groupBy(_.name).map { case (q, os) =>
      q -> os.flatMap(o => byOp.get(o.id)).map(c => (c.jobs, c.stages, c.tasks, c.shuffleWrite)).distinct
    }
    val unsteady = sigs.collect { case (q, s) if s.size > 1 => q }.toSeq.sorted
    val tracedRoundS = rounds.filter(_._3).map(_._2)
    val plainRoundS = rounds.filter(r => !r._3 && r._1 > 1).map(_._2)
    Map(
      "traced_rounds" -> tracedRounds.size,
      "round_s_traced" -> tracedRoundS,
      "round_s_untraced" -> plainRoundS,
      "jobs" -> perRound(_.jobs.toDouble),
      "stages" -> perRound(_.stages.toDouble),
      "tasks" -> perRound(_.tasks.toDouble),
      "shuffle_write_bytes" -> perRound(_.shuffleWrite.toDouble),
      "shuffle_read_bytes" -> perRound(_.shuffleRead.toDouble),
      "spill_bytes" -> perRound(_.spill.toDouble),
      "input_bytes" -> perRound(_.input.toDouble),
      "output_bytes" -> perRound(_.output.toDouble),
      "result_bytes" -> perRound(_.result.toDouble),
      "executor_run_ms" -> perRound(_.runMs.toDouble),
      "executor_cpu_ms" -> perRound(_.cpuNs / 1e6),
      "scheduler_delay_ms" -> perRound(_.schedDelayMs.toDouble),
      "spark_gc_ms" -> perRound(_.gcMs.toDouble),
      "plan_analysis_ms" -> plans.map(_.analysisMs.toDouble),
      "plan_optimizer_ms" -> plans.map(_.optimizerMs.toDouble),
      "plan_planning_ms" -> plans.map(_.planningMs.toDouble),
      "collect_ms" -> layerMs("collect"),
      "exec_run_ms" -> layerMs("exec"),
      "kv_ms" -> spans.filter(_.layer == "kv").groupBy(_.name)
        .map { case (n, ss) => n -> ss.map(_.durUs / 1e3) },
      "per_op" -> traced.toSeq.map { o =>
        val c = byOp.getOrElse(o.id, new OpCounters)
        Map("name" -> o.name, "kind" -> o.kind, "jobs" -> c.jobs, "tasks" -> c.tasks,
          "input_bytes" -> c.input)
      },
      "self_ms" -> self.map { case (l, us) => l -> us / 1e3 },
      "unsteady_counters" -> unsteady,
      "declarative_forms" -> Main.OlapQueries.map(q => q -> Exec.registry(q).last.name).toMap,
      "layout_forms" -> Main.OlapQueries.flatMap(q =>
        Exec.registry(q).filter(_.layout.isDefined).map(_.name)))
  }

  /** Every span as one JSON line; Spark job spans have parent -1 (their
    * harness parent is resolved by [[SelfTime]]).
    */
  private def writeSpans(): Unit = {
    import scala.jdk.CollectionConverters._
    val jobs = counters.jobSpans.asScala.map(j =>
      Span(-j.jobId - 1, -1, j.op, "spark", s"job ${j.jobId}", j.startUs, j.endUs))
    val lines = (tracer.recorded ++ jobs).map(s => Json(Map("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs)))
    Files.createDirectories(Paths.get(s"$work/trace"))
    Files.writeString(Paths.get(s"$work/trace/spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}

object Digest {
  /** Order-insensitive SHA-256 over the rows' string forms. */
  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(value: Any): String = mapper.writeValueAsString(value)
}
