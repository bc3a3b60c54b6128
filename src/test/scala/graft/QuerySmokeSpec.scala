package graft

/** t1-style smoke: every declared query executes at sf0.001 and returns the
  * expected shape (rows > 0, no all-null columns where values are expected).
  */
class QuerySmokeSpec extends SparkSpec {

  for ((name, fn) <- SparkEntry.queries) {
    test(s"$name executes and returns rows at sf0.001") {
      val df = fn(spark, sf0001)
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(df.columns.nonEmpty)
    }
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without a query: $extra")
  }

  test("Session factory applies contract confs and registers queryable views") {
    // shared-JVM getOrCreate path: runtime confs land on the existing
    // session and registerViews wires the tables (the fresh-JVM
    // construction path incl. extensions is driven via spark-shell in the
    // verify recipe — extensions cannot attach through getOrCreate).
    // Those confs land on the session every spec shares, so put back the
    // runtime confs as they were, or later specs run under other settings
    // than they do alone.
    val before = spark.conf.getAll
    try {
      val s = graft.Session.localWithViews(sf0001)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(s.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
      assert(s.sql("SELECT count(*) FROM events").head().getLong(0) > 0)
    } finally {
      spark.conf.getAll.keys.filter(spark.conf.isModifiable).foreach { k =>
        before.get(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
    }
  }

  test("q51 funnel stages are monotonically non-increasing") {
    val r = SparkEntry.queries("q51_funnel")(spark, sf001).head()
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= c && c >= p, s"funnel not monotone: view=$v click=$c purchase=$p")
    assert(v > 0)
  }

  test("q9b approx distinct within ±5% of exact q9a (declared tolerance)") {
    val exact = SparkEntry.queries("q9a_distinct")(spark, sf001).head().getLong(0)
    val approx = SparkEntry.queries("q9b_approx_distinct")(spark, sf001).head().getLong(0)
    val relErr = math.abs(approx - exact).toDouble / exact
    info(f"q9a=$exact q9b=$approx relErr=$relErr%.4f")
    assert(relErr <= 0.05, f"approx_count_distinct off by $relErr%.4f > 5%%")
  }

  test("approx_percentile within declared accuracy of exact percentile") {
    import org.apache.spark.sql.functions._
    // the quantile-sketch analog of the q9b HLL tolerance check: the
    // mergeable sketch (the 100 TB path — exact percentile() cost scales
    // with distinct-value count) must land within rank error 1/accuracy
    val li = Tables.lineitem(spark, sf001)
    val row = li.agg(
      percentile(col("l_extendedprice"), lit(0.5)).as("exact"),
      approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx"),
      count(lit(1)).as("n")).head()
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    // rank-error bound translated to value space via the empirical spread:
    // generous envelope — catches a broken sketch, not sketch noise
    val spread = li.agg(max(col("l_extendedprice")) - min(col("l_extendedprice")))
      .head().getDouble(0)
    val relOff = math.abs(approx - exact) / spread
    info(f"exact=$exact%.2f approx=$approx%.2f relOff=$relOff%.4f of range")
    assert(relOff <= 0.02, f"approx_percentile off by $relOff%.4f of value range")
  }

  test("q19 one-pass presence-flag plan equals naive set-op formulation") {
    import org.apache.spark.sql.functions._
    val c = Tables.customer(spark, sf001)
      .filter(col("c_acctbal") > 0).select(col("c_custkey").as("k"))
    val o = Tables.orders(spark, sf001)
      .filter(col("o_totalprice") > 100000).select(col("o_custkey").as("k"))
    val naive = Map(
      "union" -> c.union(o).distinct().count(),
      "intersect" -> c.intersect(o).count(),
      "except" -> c.except(o).count())
    val got = SparkEntry.queries("q19_set_ops")(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == naive)
  }

  test("q7/q8/q33 finest-set pre-aggregation equals naive rollup/cube/sets") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf001)
    val naive7 = li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("c"), queries.Relational.dsum(col("l_extendedprice"), 2).as("s"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val got7 = SparkEntry.queries("q7_rollup")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got7.toSeq == naive7.toSeq)
    val naive33 = li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("c"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val got33 = SparkEntry.queries("q33_cube")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got33.toSeq == naive33.toSeq)
    val naive8 = li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("c"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val got8 = SparkEntry.queries("q8_grouping_sets")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got8.toSeq == naive8.toSeq)
  }

  test("known invariants at sf0.001") {
    import org.apache.spark.sql.functions._
    // q1: 3 flags x 2 statuses
    assert(SparkEntry.queries("q1_pricing_agg")(spark, sf0001).count() == 6)
    // q5: rn bounded by 3
    val q5 = SparkEntry.queries("q5_rank_window")(spark, sf0001)
    assert(q5.agg(max("rn")).head().getLong(0) <= 3)
    // q16: exactly 10 query vecs x 5 neighbors
    assert(SparkEntry.queries("q16_cosine_topk")(spark, sf0001).count() == 50)
    // q19: three set-op rows
    assert(SparkEntry.queries("q19_set_ops")(spark, sf0001).count() == 3)
  }
}
