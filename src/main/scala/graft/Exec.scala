package graft

import graft.queries.{Events, Relational, TextVec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One dispatch entry point per logical query that owns multiple physical
  * forms (r12 verdict item 1): a caller asks for the QUERY; Exec picks the
  * fastest form whose validity bound holds and falls back — loudly LOGGED,
  * never loudly failed — to the declarative twin otherwise.
  *
  * Three kinds of physical form, ordered fastest-first per query:
  *  - columnar kernels (the q100+ seam): valid when the pruned input plans
  *    as a single columnar parquet scan, and — for the join kernels and
  *    set-census finales — when the build side sits inside the broadcast
  *    regime ([[graft.queries.Relational.withinBroadcastBound]], the same
  *    predicate the kernels' own `requireBuildBounded` gates enforce);
  *  - staged-layout kernels (q92+/q98/q99): valid only when the session
  *    has ALREADY staged the layout ([[Layouts]] cache probe) — the
  *    dispatcher never pays a staging job implicitly;
  *  - the declarative DataFrame form: always valid, always last. It is
  *    the 100 TB path by construction (shuffled joins, unbounded-vocab
  *    aggregation), so every fallback is a correct answer, not a degraded
  *    one.
  *
  * Plan-time bounds cannot see everything (a duplicate build PK, an
  * interner hitting its id cap, a mis-laid-out bucketed table only
  * surface while a kernel RUNS), so the dispatcher also treats a kernel's
  * own loud refusal — a [[graft.operators.KernelRefusal]] anywhere in the
  * cause chain, the seam's guard discipline — as "invalid form": it logs and
  * falls through to the next form. Kernel forms materialize eagerly
  * (their jobs run inside `run`), which is what makes catch-and-fallback
  * sound; any other exception type propagates untouched.
  *
  * Every dispatch path is hash-gated: SparkEntry's q115+ entries route
  * through [[run]] and share their targets' DuckDB oracles, and ExecSpec
  * pins dispatcher == declarative both when bounds hold (kernel chosen)
  * and when forced past them (fallback chosen).
  */
object Exec {

  /** A physical form: `valid` returns None when its bound holds for
    * (spark, dir), or Some(reason) to skip it without trying. `layout`
    * names the pay-once staging the form depends on (None for kernel /
    * declarative forms) — [[runFamily]] uses it to stage once per family
    * instead of per query.
    */
  final case class Form(
      name: String,
      run: (SparkSession, String) => DataFrame,
      valid: (SparkSession, String) => Option[String],
      layout: Option[String] = None)

  private val always: (SparkSession, String) => Option[String] = (_, _) => None

  /** Kernel-input check: the pruned frame must plan as one columnar scan
    * (planning only — no job runs). Covers vectorized-reader-off, nested/
    * unsupported schema, non-parquet sources.
    */
  private def columnarScanOf(df: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => Option[String] =
    (s, d) =>
      try { graft.operators.ColumnarScan.soleColumnarScan(df(s, d)); None }
      catch { case e: Exception => Some(s"no columnar scan: ${e.getMessage.takeWhile(_ != '\n')}") }

  /** Broadcast-regime check for a kernel build side / set-census input. */
  private def bounded(df: (SparkSession, String) => DataFrame, what: String)
      : (SparkSession, String) => Option[String] =
    (s, d) =>
      if (Relational.withinBroadcastBound(df(s, d))) None
      else Some(s"$what exceeds the broadcast regime")

  private def both(a: (SparkSession, String) => Option[String],
      b: (SparkSession, String) => Option[String])
      : (SparkSession, String) => Option[String] =
    (s, d) => a(s, d).orElse(b(s, d))

  /** Staged-layout probe: valid only when the layout is already cached in
    * this session (the dispatcher never stages implicitly).
    */
  private def layoutStaged(tag: String): (SparkSession, String) => Option[String] =
    (s, d) => if (Layouts.byTag(tag).isStaged(s, d)) None
      else Some(s"$tag layout not staged in this session")

  /** The registry: per logical query, forms ordered fastest-first by
    * hand, with the declarative twin last (always valid) because it is the
    * fallback contract, not a speed claim. Every validity bound checks the
    * kernel's OWN exported input/build frame (`*KernelInput`/
    * `*KernelProbe`/`*KernelBuild` in the query objects) — one definition
    * for what the kernel scans and what the dispatcher validates, so the
    * two cannot drift (r13 review).
    */
  val registry: Map[String, Seq[Form]] = Map(
    "q1" -> Seq(
      Form("q1ColumnarKernel", Relational.q1ColumnarKernel,
        columnarScanOf(Relational.q1KernelInput)),
      Form("q1", Relational.q1, always)),
    "q2" -> Seq(
      Form("q2ColumnarKernel", Relational.q2ColumnarKernel,
        both(columnarScanOf(Relational.q2KernelProbe),
          bounded(Relational.q2KernelBuildBound, "orders build"))),
      // ordered ahead of the declarative twin DESPITE a slower sf0.1
      // median (the bucketed SMJ's 0.4–1.0 s vs declarative 0.39 s): the
      // two are only both reachable when the kernel's broadcast bound has
      // failed, i.e. orders no longer broadcasts — exactly the regime
      // where the declarative form degrades to a shuffled join and the
      // pre-paid co-located layout is the fast path. The sf0.1 medians
      // compare the layout against a broadcast join it never competes
      // with at scale.
      Form("q2FromFacts(bucketed)", (s, d) => {
        val (li, o) = Layouts.factsLayout.staged(s, d)
        Relational.q2FromFacts(li, o, s, d)
      }, layoutStaged("facts"), layout = Some("facts")),
      Form("q2", Relational.q2, always)),
    "q3" -> Seq(
      Form("q3ColumnarKernel", Relational.q3ColumnarKernel,
        both(columnarScanOf(Relational.q3KernelProbe),
          bounded(Relational.q3KernelBuild, "orders build"))),
      Form("q3", Relational.q3, always)),
    "q4" -> Seq(
      Form("q4ColumnarKernel", Relational.q4ColumnarKernel,
        both(columnarScanOf(Relational.q4KernelProbe),
          bounded(Relational.q4KernelBuild, "orders build"))),
      Form("q4", Relational.q4, always)),
    "q5" -> Seq(
      Form("q5ColumnarKernel", Relational.q5ColumnarKernel,
        columnarScanOf(Relational.q5KernelInput)),
      Form("q5From(bucketed)",
        (s, d) => Relational.q5From(Layouts.ordersLayout.staged(s, d)),
        layoutStaged("orders"), layout = Some("orders")),
      Form("q5", Relational.q5, always)),
    "q6" -> Seq(
      Form("q6ColumnarKernel", Relational.q6ColumnarKernel,
        columnarScanOf(Relational.q6KernelInput)),
      Form("q6", Relational.q6, always)),
    "q7" -> Seq(
      Form("q7ColumnarKernel", Relational.q7ColumnarKernel,
        columnarScanOf(Relational.q7KernelInput)),
      Form("q7", Relational.q7, always)),
    "q9a" -> Seq(
      // the kernel self-tiers its finale (tree-merge vs distributed
      // distinct) on the same bound, so it is valid whenever the scan is
      Form("q9aColumnarKernel", Events.q9aColumnarKernel,
        columnarScanOf(Events.q9aKernelInput)),
      Form("q9a", Events.q9a, always)),
    "q10" -> Seq(
      Form("q10ColumnarKernel", Events.q10ColumnarKernel,
        columnarScanOf(Events.q10KernelInput)),
      Form("q10", Events.q10, always)),
    "q11" -> Seq(
      Form("q11ColumnarKernel", Events.q11ColumnarKernel,
        columnarScanOf(Events.q11KernelInput)),
      Form("q11", Events.q11, always)),
    "q12" -> Seq(
      Form("q12FromColumnarSortedKernel",
        (s, d) => Events.q12FromColumnarSortedKernel(Layouts.eventsLayout.staged(s, d)),
        layoutStaged("events"), layout = Some("events")),
      Form("q12", Events.q12, always)),
    "q13" -> Seq(
      Form("q13FromColumnarSortedKernel",
        (s, d) => Events.q13FromColumnarSortedKernel(Layouts.eventsLayout.staged(s, d)),
        layoutStaged("events"), layout = Some("events")),
      Form("q13", Events.q13, always)),
    "q14" -> Seq(
      Form("q14ColumnarKernel", TextVec.q14ColumnarKernel,
        columnarScanOf(TextVec.docsTextInput)),
      Form("q14", TextVec.q14, always)),
    "q16" -> Seq(
      Form("q16ColumnarKernel", TextVec.q16ColumnarKernel,
        both(columnarScanOf(TextVec.q16KernelInput),
          bounded(TextVec.q16QueryFrame, "query-vector side"))),
      // the staged IVFADC deployment path at its exactness-pinned
      // operating point (all cells probed, everything re-ranked == exact
      // q16 — the q136 pin), placed between the kernel and the
      // declarative twin; its deployment value is the pruned-scan shape at
      // (nprobe ≪ cells, rerank ≪ N), not this full-probe speed.
      Form("q16AnnStagedExact",
        (s, d) => graft.queries.Pipeline.q136(s, d),
        (s, d) => if (graft.queries.Pipeline.isAnnIndexStaged(s, d)) None
          else Some("ANN index not staged in this session"),
        layout = Some("ann")),
      Form("q16", TextVec.q16, always)),
    "q17" -> Seq(
      Form("q17ColumnarKernel", TextVec.q17ColumnarKernel,
        columnarScanOf(TextVec.docsTextInput)),
      Form("q17", TextVec.q17, always)),
    "q21" -> Seq(
      Form("q21FromSortedKernel",
        (s, d) => Events.q21FromSortedKernel(Layouts.eventsLayout.staged(s, d)),
        layoutStaged("events"), layout = Some("events")),
      Form("q21", Events.q21, always)),
    "q51" -> Seq(
      Form("q51FromSortedKernel",
        (s, d) => Events.q51FromSortedKernel(Layouts.eventsLayout.staged(s, d)),
        layoutStaged("events"), layout = Some("events")),
      Form("q51", Events.q51, always)),
    "q70" -> Seq(
      Form("q70FromSortedKernel",
        (s, d) => Events.q70FromSortedKernel(Layouts.eventsLayout.staged(s, d)),
        layoutStaged("events"), layout = Some("events")),
      Form("q70", Events.q70, always)),
    "q71" -> Seq(
      Form("q71FromSortedKernel",
        (s, d) => Events.q71FromSortedKernel(Layouts.eventsLayout.staged(s, d)),
        layoutStaged("events"), layout = Some("events")),
      Form("q71", Events.q71, always)))

  /** True when `t` or anything in its cause chain is the seam's loud-guard
    * type (kernels throw [[graft.operators.KernelRefusal]] directly on the
    * driver and wrapped in SparkException from inside tasks). The dedicated
    * type — not any IllegalStateException — is what gets caught: Spark
    * internals also throw bare ISE (stopped SparkContext, codegen state
    * errors), and swallowing those into a silent fallback would bury the
    * real failure under a slower re-run (r13 advice).
    */
  private[graft] def isLoudRefusal(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 16) {
      if (c.isInstanceOf[graft.operators.KernelRefusal]) return true
      c = c.getCause; depth += 1
    }
    false
  }

  /** Dispatch `query`: first form whose bound holds runs; a form that
    * refuses at runtime (loud-guard exception) logs and falls through.
    * Returns the chosen form's name with the result.
    */
  def runNamed(spark: SparkSession, dir: String, query: String): (String, DataFrame) = {
    val forms = registry.getOrElse(query, throw new IllegalArgumentException(
      s"Exec: unknown query '$query' (known: ${registry.keys.toSeq.sorted.mkString(", ")})"))
    forms.init.foreach { f =>
      f.valid(spark, dir) match {
        case Some(reason) =>
          System.err.println(s"[exec] $query: skipping ${f.name} — $reason")
        case None =>
          try return (f.name, f.run(spark, dir))
          catch {
            case e: Throwable if isLoudRefusal(e) =>
              System.err.println(s"[exec] $query: ${f.name} refused at runtime — " +
                s"${Option(e.getMessage).getOrElse(e.toString).takeWhile(_ != '\n')}; falling back")
          }
      }
    }
    val last = forms.last
    (last.name, last.run(spark, dir))
  }

  def run(spark: SparkSession, dir: String, query: String): DataFrame =
    runNamed(spark, dir, query)._2

  /** The staging job behind each [[Form.layout]] tag — the SAME memoized
    * entry points a user stages through, so a family-staged layout is
    * indistinguishable from an explicitly staged one.
    */
  private val layoutStagers: Map[String, (SparkSession, String) => Unit] =
    Layouts.byTag.map { case (tag, l) =>
      tag -> ((s: SparkSession, d: String) => { l.cached(s, d); () })
    } + ("ann" -> ((s, d) => { graft.queries.Pipeline.stageAnnIndex(s, d); () }))

  /** Amortized family dispatch (r13 verdict item 5): when a caller asks
    * for several queries AT ONCE, a layout used by ≥ `stageThreshold` of
    * them is staged ONCE up front — explicitly and logged, the one
    * deliberate exception to "the dispatcher never stages" (the caller's
    * batch request IS the opt-in; the amortization math is the layout's
    * whole point, tools/bench_bucketed_latest.json@ec375fe) — and every query
    * then routes through [[runNamed]] as usual. Layouts below the
    * threshold are left unstaged: one query never justifies a staging job
    * it could have run declaratively. Returns (query, chosenForm, result)
    * in request order.
    */
  def runFamily(spark: SparkSession, dir: String, queries: Seq[String],
      stageThreshold: Int = 2): Seq[(String, String, DataFrame)] = {
    val unknown = queries.filterNot(registry.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"Exec.runFamily: unknown queries ${unknown.mkString(", ")} " +
      s"(known: ${registry.keys.toSeq.sorted.mkString(", ")})")
    // A query wants a layout only when that layout's form would actually
    // be CHOSEN once staged — i.e. every form ordered ahead of it is
    // currently invalid (plan-time checks only, no jobs). Without this,
    // Seq("q16", "q16") would train and stage the whole ANN index for two
    // queries the columnar kernel then answers anyway (r14 review).
    val wanted = queries
      .flatMap { q =>
        val forms = registry(q)
        forms.zipWithIndex.collectFirst {
          case (f, i) if f.layout.isDefined &&
            forms.take(i).forall(_.valid(spark, dir).isDefined) => f.layout.get
        }
      }
      .groupBy(identity).view.mapValues(_.size).toMap
    for ((tag, n) <- wanted.toSeq.sortBy(_._1); if n >= stageThreshold) {
      val t = System.nanoTime()
      layoutStagers(tag)(spark, dir)
      System.err.println(f"[exec] runFamily: staged '$tag' layout once for " +
        f"$n queries in ${(System.nanoTime() - t) / 1e9}%.2f s")
    }
    queries.map { q =>
      val (form, df) = runNamed(spark, dir, q)
      (q, form, df)
    }
  }
}
