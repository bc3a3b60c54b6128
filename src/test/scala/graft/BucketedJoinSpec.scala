package graft

import org.apache.spark.sql.functions._

/** Bucketing (SURVEY §1.2 / §2.1 address-gen analog): two tables bucketed
  * by the join key join WITHOUT a shuffle exchange on either side — the
  * co-located-join layout that matters at 100 TB (pay the shuffle once at
  * write time, never again per query).
  */
class BucketedJoinSpec extends SparkSpec {

  test("join of two tables bucketed on the key plans with no shuffle exchange") {
    // warehouse.dir is a static conf; the default ./spark-warehouse is
    // gitignored, and the tables are dropped in the finally block
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")

    Tables.orders(spark, sf0001)
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.customer(spark, sf0001)
      .withColumnRenamed("c_custkey", "o_custkey")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_customer")

    // disable auto-broadcast so the planner must pick a sort-merge join —
    // the point is that bucketing removes its exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), "o_custkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
      // sanity: result matches the unbucketed join
      val plainCount = Tables.orders(spark, sf0001)
        .join(Tables.customer(spark, sf0001),
          col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == plainCount)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("IVFADC probe over cell-partitioned codes: partition-pruned scan, no codes-side exchange, inline parity") {
    // the deployment layout q88's scaladoc claims, gated as a plan shape
    // (tools/bench_bucketed_latest.json@ec375fe has the sf0.1 numbers):
    // codes staged partitioned by cell -> a probe reads only its nprobe
    // cells' files and the codes side never exchanges; the staged result
    // must equal the inline q88 rows exactly
    import graft.queries.Pipeline
    import graft.expressions.TextVecExprs
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfadc").toString
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("nrm", TextVecExprs.floatVecNorm(col("embedding")))
    val cents = Pipeline.ivfTrain(emb)
    val cb = Pipeline.pqTrain(emb)
    Pipeline.ivfadcIndex(emb, cents, cb)
      .write.partitionBy("bkt").mode("overwrite").parquet(dir)
    val queriesDf = Pipeline.annQueries(emb)
    val cells = Pipeline.ivfadcProbedCells(queriesDf, cents, nprobe = 4)
    assert(cells.nonEmpty && cells.length <= 40) // ≤ |queries|·nprobe
    // probe at q88's DEFAULT operating point so the parity assertion
    // compares identical params on the same trained index
    val staged = Pipeline.ivfadcStagedProbe(spark, dir, emb, queriesDf, cents, cb,
      nprobe = Pipeline.AnnNprobe, rerank = Pipeline.AnnRerank)
    val stagedRows = staged.collect().toSeq
    val inlineRows = Pipeline.q88(spark, sf0001).collect().toSeq
    assert(stagedRows == inlineRows,
      s"staged IVFADC diverged from inline q88 (${stagedRows.size} vs ${inlineRows.size} rows)")
    val plan = staged.queryExecution.executedPlan.toString
    val violations = Pipeline.ivfadcCodesGateViolations(plan)
    assert(violations.isEmpty, s"${violations.mkString("; ")}\n$plan")
  }

  test("events family over user_id-bucketed ts-sorted layout: no user_id exchange/sort, row parity") {
    // the r11-verdict pay-once layout for the weak list's sort floor:
    // events bucketed by user_id, sorted within buckets by (user_id, ts,
    // event_id) — exactly the clustering+order the whole q12/q13/q21/q51/
    // q70/q71 family requires. The gate is
    // Events.userIdLayoutGateViolations (numbers live in
    // tools/bench_bucketed_latest.json@ec375fe).
    import graft.queries.Events
    val orderingWas = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    val autoScanWas = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    Layouts.stageEventsByUser(spark, sf0001, buckets = 8, table = "b_ev_bkt")
    try {
      val evP = Tables.events(spark, sf0001)
      def evB = spark.table("b_ev_bkt")
      val family: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, Boolean)] = Seq(
        ("q12", Events.q12From, false),
        ("q13", Events.q13From, false),
        ("q21", Events.q21From, false),
        ("q51", Events.q51From, false),
        ("q70", Events.q70From, true), // post-distinct sort is correct there
        ("q71", Events.q71From, false))
      family.foreach { case (name, q, allowSort) =>
        val b = q(evB)
        assert(b.collect().toSeq == q(evP).collect().toSeq,
          s"$name: bucketed layout changed the rows")
        val plan = b.queryExecution.executedPlan.toString
        val viol = Events.userIdLayoutGateViolations(plan, allowSort)
        assert(viol.isEmpty, s"$name: ${viol.mkString("; ")}\n$plan")
      }
      // the kernels' scan must stay BUCKET-ALIGNED: a bare projection
      // gives the planner no reason to keep the bucketed scan
      // (DisableUnnecessaryBucketedScan), and size-based splits interleave
      // bucket files — Layouts forces autoBucketedScan off; gate it here
      val bareProj = evB.select(col("user_id"), col("ts"))
      val scanPlan = bareProj.queryExecution.executedPlan.toString
      assert(!scanPlan.contains("Bucketed: false"),
        s"kernel-shaped scan lost bucket alignment:\n$scanPlan")
      assert(bareProj.queryExecution.toRdd.getNumPartitions == 8,
        "bucketed scan must yield one partition per bucket")
      // the single-pass sorted-layout kernels must reproduce their
      // Window/aggregate forms exactly — on the bucketed table (the
      // deployment path) AND on an explicitly repartition+
      // sortWithinPartitions frame (pins the semantics to the documented
      // precondition, independent of the bucketed reader)
      val sorted = evP.repartition(8, col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      val kernels: Seq[(String,
          org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
          org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
        ("q12", Events.q12From, Events.q12FromSortedKernel(_)),
        ("q13", Events.q13From, Events.q13FromSortedKernel),
        ("q21", Events.q21From, Events.q21FromSortedKernel),
        ("q51", Events.q51From, Events.q51FromSortedKernel),
        ("q70", Events.q70From, Events.q70FromSortedKernel),
        ("q71", Events.q71From, Events.q71FromSortedKernel))
      kernels.foreach { case (name, declarative, kernel) =>
        val rows = declarative(evP).collect().toSeq
        assert(kernel(evB).collect().toSeq == rows,
          s"$name kernel diverged from the declarative form on the bucketed table")
        assert(kernel(sorted).collect().toSeq == rows,
          s"$name kernel diverged from the declarative form on a sorted repartition")
      }
    } finally {
      // restore BOTH confs Layouts set — the session is a JVM-wide
      // singleton shared by every suite, and a leaked autoBucketedScan
      // would make later suites' plan assertions order-dependent
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", orderingWas)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", autoScanWas)
      spark.sql("DROP TABLE IF EXISTS b_ev_bkt")
    }
  }

  test("q5 over o_custkey-bucketed orders plans exchange-free, row parity") {
    import graft.queries.Relational
    val orderingWas5 = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    val autoScanWas5 = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    Layouts.stageOrdersByCustkey(spark, sf0001, buckets = 8, table = "b_ord_bkt")
    try {
      val b = Relational.q5From(spark.table("b_ord_bkt"))
      assert(b.collect().toSeq == Relational.q5(spark, sf0001).collect().toSeq,
        "bucketed q5 changed the rows")
      val plan = b.queryExecution.executedPlan.toString
      val viol = Relational.custkeyLayoutGateViolations(plan)
      assert(viol.isEmpty, s"bucketed q5: ${viol.mkString("; ")}\n$plan")
    } finally {
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", orderingWas5)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", autoScanWas5)
      spark.sql("DROP TABLE IF EXISTS b_ord_bkt")
    }
  }

  test("q2 over orderkey-bucketed facts: zero fact-side exchange SMJ, row parity") {
    import graft.queries.Relational
    val orderingWas = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    val autoScanWas = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    Layouts.stageFactsByOrderkey(spark, sf0001, buckets = 8,
      lineitemTable = "b_li_bkt", ordersTable = "b_o_bkt")
    // force the 100 TB regime: the fact join may not broadcast (the dim
    // chain inside q2FromFacts stays explicitly broadcast — small at any
    // scale); bucketing must then remove the SMJ's fact exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val b = Relational.q2FromFacts(
        spark.table("b_li_bkt"), spark.table("b_o_bkt"), spark, sf0001)
      assert(b.collect().toSeq == Relational.q2(spark, sf0001).collect().toSeq,
        "bucketed q2 changed the rows")
      val plan = b.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast fact join:\n$plan")
      val viol = Relational.orderkeyLayoutGateViolations(plan)
      assert(viol.isEmpty, s"bucketed q2: ${viol.mkString("; ")}\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", orderingWas)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", autoScanWas)
      spark.sql("DROP TABLE IF EXISTS b_li_bkt")
      spark.sql("DROP TABLE IF EXISTS b_o_bkt")
    }
  }

  test("q91 snapshot diff over id-bucketed snapshots plans with no shuffle exchange") {
    // the deployment layout the q91 scaladoc claims: both corpus revisions
    // bucketed by doc_id -> the full-outer diff join is exchange-free
    spark.sql("DROP TABLE IF EXISTS b_snap_a")
    spark.sql("DROP TABLE IF EXISTS b_snap_b")
    val a = Tables.documents(spark, sf0001).select("doc_id", "source", "text")
    a.write.bucketBy(8, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("b_snap_a")
    a.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .write.bucketBy(8, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("b_snap_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val diff = graft.queries.Pipeline.snapshotDiff(
        spark.table("b_snap_a"), spark.table("b_snap_b"))
      val rows = diff.collect()
      assert(rows.nonEmpty && rows.map(_.getLong(1)).sum > 0) // removals fire
      val plan = diff.queryExecution.executedPlan.toString
      // the only allowed exchange is the final |sources|-key aggregate's
      val joinSide = plan.split("SortMergeJoin|ShuffledHashJoin").last
      assert(plan.contains("Join"), s"expected a join:\n$plan")
      assert(!joinSide.contains("Exchange hashpartitioning"),
        s"bucketed snapshot diff must not shuffle the join inputs:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024)
      spark.sql("DROP TABLE IF EXISTS b_snap_a")
      spark.sql("DROP TABLE IF EXISTS b_snap_b")
    }
  }
}
