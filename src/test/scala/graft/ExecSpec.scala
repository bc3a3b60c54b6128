package graft

import org.apache.spark.sql.Row

/** The Exec dispatcher (r12 verdict item 1): every registered logical
  * query must produce its declarative twin's exact rows through the
  * dispatcher — when bounds hold (fast form chosen), when forced past
  * them (fallback chosen), and when a kernel refuses only at runtime.
  */
class ExecSpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq

  test("dispatcher == declarative twin for every registered query") {
    for ((query, forms) <- Exec.registry.toSeq.sortBy(_._1)) {
      val (chosen, got) = Exec.runNamed(spark, sf0001, query)
      val want = rowsOf(forms.last.run(spark, sf0001))
      assert(rowsOf(got) === want, s"$query via $chosen")
    }
  }

  test("columnar-kernel forms are actually chosen when bounds hold") {
    // the layout-dependent families (q12/q13/q21/q51) may legitimately
    // fall back when no layout is staged; the pure columnar kernels must
    // NOT fall back on healthy testdata
    for (query <- Seq("q1", "q2", "q3", "q4", "q5", "q6", "q7", "q9a",
        "q10", "q11", "q14", "q16", "q17")) {
      val (chosen, _) = Exec.runNamed(spark, sf0001, query)
      assert(chosen.contains("Kernel"), s"$query dispatched to $chosen")
    }
  }

  test("forced past the broadcast bound, the gated kernels fall back — same answer") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key, "10485760")
    spark.conf.set(key, "1")
    try {
      for (query <- Seq("q2", "q3", "q4", "q16")) {
        val (chosen, got) = Exec.runNamed(spark, sf0001, query)
        assert(!chosen.contains("Kernel"), s"$query must skip its gated kernel, got $chosen")
        assert(rowsOf(got) ===
          rowsOf(Exec.registry(query).last.run(spark, sf0001)), s"$query via $chosen")
      }
      // the self-tiering kernels stay valid (their FINALE switches to the
      // distributed path under the same bound) and still match
      for (query <- Seq("q9a", "q14", "q17")) {
        val (chosen, got) = Exec.runNamed(spark, sf0001, query)
        assert(chosen.contains("Kernel"), s"$query dispatched to $chosen")
        assert(rowsOf(got) ===
          rowsOf(Exec.registry(query).last.run(spark, sf0001)), s"$query via $chosen")
      }
    } finally spark.conf.set(key, saved)
  }

  test("staged-layout form is chosen once the session staged it") {
    Layouts.eventsByUserCached(spark, sf0001) // pay the staging explicitly
    val (chosen, got) = Exec.runNamed(spark, sf0001, "q12")
    assert(chosen.contains("SortedKernel"), s"got $chosen")
    assert(rowsOf(got) === rowsOf(graft.queries.Events.q12(spark, sf0001)))
  }

  test("a kernel's runtime refusal falls through to the declarative twin") {
    // plan-time bounds hold for this corpus, but the q3 kernel's build
    // detects a duplicate o_orderkey only while RUNNING — the dispatcher
    // must catch the loud guard and return the declarative (fan-out) answer
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("execdup").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    spark.createDataFrame(Seq(
      Row(1L, ts("1995-01-01 00:00:00")),
      Row(1L, ts("1994-12-01 00:00:00")),   // duplicate PK, both bands match
      Row(2L, ts("1995-01-01 00:00:00"))).asJava,
      StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_orderdate", TimestampType))))
      .repartition(2).write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    spark.createDataFrame(Seq(
      Row(1L, ts("1995-01-02 00:00:00"), 10.0)).asJava,
      StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_shipdate", TimestampType),
        StructField("l_extendedprice", DoubleType))))
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val (chosen, got) = Exec.runNamed(spark, tmp, "q3")
    assert(chosen === "q3", s"got $chosen")
    val want = rowsOf(graft.queries.Relational.q3(spark, tmp))
    assert(rowsOf(got) === want)
    // the declarative answer really is the fan-out one: both duplicate
    // orders band-match the single lineitem row
    assert(want.head.getLong(0) === 2L)
  }

  test("registry forms keep their written order; declarative twin last") {
    val kernelFirst = Seq("q1", "q3", "q4", "q6", "q7", "q9a", "q10", "q11", "q14", "q17")
      .map(q => q -> Seq(s"${q}ColumnarKernel", q))
    val layoutFirst = Seq("q12", "q13").map(q => q -> Seq(s"${q}FromColumnarSortedKernel", q)) ++
      Seq("q21", "q51", "q70", "q71").map(q => q -> Seq(s"${q}FromSortedKernel", q))
    val want = (kernelFirst ++ layoutFirst ++ Seq(
      "q2" -> Seq("q2ColumnarKernel", "q2FromFacts(bucketed)", "q2"),
      "q5" -> Seq("q5ColumnarKernel", "q5From(bucketed)", "q5"),
      "q16" -> Seq("q16ColumnarKernel", "q16AnnStagedExact", "q16"))).toMap
    assert(Exec.registry.map { case (q, forms) => q -> forms.map(_.name) } === want)
    for ((q, forms) <- Exec.registry)
      assert(forms.last.name === q, s"$q: the declarative twin must stay last")
  }

  test("runFamily stages the shared layout once, then routes the whole family to kernels") {
    // fresh COPY of the corpus dir (r14 ADVICE): the staging cache is
    // session-global, so running against sf0001 directly could find the
    // events layout already staged by an earlier spec and pass vacuously —
    // a distinct dir string is a distinct cache key, guaranteed unstaged
    val dir = java.nio.file.Files.createTempDirectory("famdir").toString
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf0001/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    assert(!Layouts.isEventsLayoutStaged(spark, dir),
      "a fresh dir must start unstaged or the test is vacuous")
    val family = Seq("q12", "q13", "q21", "q51", "q70", "q71")
    val res = Exec.runFamily(spark, dir, family)
    assert(Layouts.isEventsLayoutStaged(spark, dir),
      "the family call must have staged the events layout")
    assert(res.map(_._1) === family, "results arrive in request order")
    for ((q, form, df) <- res) {
      assert(form.contains("SortedKernel"), s"$q routed to $form")
      assert(rowsOf(df) === rowsOf(Exec.registry(q).last.run(spark, dir)),
        s"$q via $form")
    }
  }

  test("runFamily below the staging threshold stages nothing") {
    // a single q16 request wants the 'ann' layout once — under the
    // default threshold of 2 the family call must NOT pay that staging
    val res = Exec.runFamily(spark, sf001, Seq("q16"))
    assert(!graft.queries.Pipeline.isAnnIndexStaged(spark, sf001),
      "one query must not trigger a staging job")
    assert(res.head._2 === "q16ColumnarKernel")
    val e = intercept[IllegalArgumentException] {
      Exec.runFamily(spark, sf0001, Seq("q16", "q999"))
    }
    assert(e.getMessage.contains("unknown queries"))
  }

  test("staged-ANN form is dispatchable once staged — and is the exact answer") {
    graft.queries.Pipeline.stageAnnIndex(spark, sf0001)
    // the kernel still wins on recorded medians; force past its broadcast
    // bound so dispatch falls to the staged deployment form
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key, "10485760")
    spark.conf.set(key, "1")
    try {
      val (chosen, got) = Exec.runNamed(spark, sf0001, "q16")
      assert(chosen === "q16AnnStagedExact", s"got $chosen")
      assert(rowsOf(got) === rowsOf(Exec.registry("q16").last.run(spark, sf0001)))
    } finally spark.conf.set(key, saved)
  }

  test("registry invariants: last form always valid, form names unique") {
    for ((q, forms) <- Exec.registry) {
      assert(forms.nonEmpty, s"$q has no forms")
      assert(forms.last.valid(spark, sf0001).isEmpty,
        s"$q: the final (declarative) form must be unconditionally valid")
      assert(forms.map(_.name).distinct.size === forms.size,
        s"$q: duplicate form names")
    }
  }

  test("only KernelRefusal counts as a loud refusal — Spark's own ISEs propagate") {
    import graft.operators.KernelRefusal
    assert(Exec.isLoudRefusal(new KernelRefusal("guard fired")))
    // task-side throws arrive wrapped: anywhere in the cause chain counts
    assert(Exec.isLoudRefusal(new RuntimeException("task failed",
      new KernelRefusal("guard fired in task"))))
    // a bare IllegalStateException (stopped SparkContext, codegen state,
    // Graph non-convergence) must NOT be swallowed into a silent fallback
    assert(!Exec.isLoudRefusal(new IllegalStateException("SparkContext stopped")))
    assert(!Exec.isLoudRefusal(new RuntimeException("task failed",
      new IllegalStateException("codegen state"))))
  }

  test("unknown query names fail loudly") {
    val e = intercept[IllegalArgumentException] { Exec.run(spark, sf0001, "q999") }
    assert(e.getMessage.contains("unknown query"))
  }
}
