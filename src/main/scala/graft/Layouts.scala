package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Pay-once physical layouts for repeated analytics — the deployment
  * story measured in tools/bench_bucketed_latest.json@ec375fe and documented in
  * docs/DEPLOY.md, packaged as one-call staging so a user gets the
  * layout the numbers were recorded on, not a hand-rolled variant that
  * silently misses a precondition.
  *
  * The recipe every method follows: repartition on the bucket column
  * FIRST so each bucket's rows land in exactly one task → ONE file per
  * bucket, which is the precondition for Spark's bucketed scan to report
  * its within-bucket sort order (`spark.sql.legacy.bucketedTableScan.
  * outputOrdering`, set here); then `bucketBy(...).sortBy(...)`. Queries
  * against the staged table plan with ZERO exchange on the bucket key
  * and ZERO sort where their order requirement is a prefix of the
  * layout's — the per-query shuffle+sort is pre-paid at write time and
  * amortizes across the query family (amortization counts are in that
  * artifact). At cluster scale the same code holds: bucketed
  * saveAsTable is Hive-layout-compatible, and the scan-side guarantees
  * are per-file, not per-executor.
  *
  * Each layout is one [[Staged]] description — the source files its
  * staging reads, the staging, and its table names — and every memoized
  * accessor, dispatcher probe and family stager ([[graft.Exec]]) reads
  * from that one description. Its pay-once memo is a [[SourceMemo]]
  * fingerprinted on the source files, so a regenerated source is never
  * served from a stale bucketed table.
  */
object Layouts {

  /** Generic staged layout: `df` bucketed by `bucketCol`, each bucket one
    * file, sorted within buckets by `sortCols` (which must start with
    * `bucketCol` for the scan to report the order).
    */
  def stageBucketedSorted(df: DataFrame, buckets: Int, bucketCol: String,
      sortCols: Seq[String], table: String): Unit = {
    val spark = df.sparkSession
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    // Force bucket-aligned scans: the DisableUnnecessaryBucketedScan
    // planner rule reverts a bucketed table to SIZE-BASED file splits when
    // no operator in the plan declares a distribution/ordering requirement
    // — which is exactly the shape of the single-pass kernels (a bare
    // projection feeding an RDD pass; the planner cannot see that the
    // kernel exploits bucket alignment). Size-based splits pack several
    // bucket files into one partition and the kernels' layout guards fire
    // (caught live: a 31-partition scan over 32 buckets in the Verify
    // session — two sorted files concatenated mid-partition). The conf is
    // runtime-modifiable and session-scoped, set here so every session
    // that stages a layout reads it bucket-aligned.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // Self-heal an ORPHANED location: a crashed/killed prior run can leave
    // the table directory on disk while the (per-process derby) catalog has
    // no entry — DROP IF EXISTS is then a no-op and saveAsTable fails with
    // LOCATION_ALREADY_EXISTS. These staging tables are engine-owned by
    // construction, so removing the stale directory is safe. Local
    // filesystems only; on a shared metastore+DFS deployment the catalog
    // entry survives the crash and the DROP above handles it.
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
    if (wh.getScheme == null || wh.getScheme == "file") {
      val loc = java.nio.file.Paths.get(wh.getPath + "/" + table)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(loc)
        try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
        finally walk.close()
      }
    }
    df.repartition(buckets, col(bucketCol))
      .write.bucketBy(buckets, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .mode("overwrite").saveAsTable(table)
  }

  /** The events-family layout (SURVEY §2.2 rows 20-22, 39-41 read paths):
    * bucketed by user_id, sorted by (user_id, ts, event_id) — the exact
    * clustering + order q12/q13/q21/q51/q70/q71 require, making the whole
    * family exchange- and sort-free, and the precondition of the
    * single-pass `Events.*FromSortedKernel` forms that drop the
    * WindowExec/hash-agg/as-of-join machinery itself (see the kernels'
    * scaladoc and the guard in Events.badLayout).
    */
  def stageEventsByUser(spark: SparkSession, dir: String, buckets: Int,
      table: String = "g_ev_bkt"): DataFrame = {
    stageBucketedSorted(Tables.events(spark, dir), buckets, "user_id",
      Seq("user_id", "ts", "event_id"), table)
    spark.table(table)
  }

  /** The per-customer top-k layout (q5's shape): orders bucketed by
    * o_custkey, pruned to the three columns the query family reads; the
    * heap aggregate plans as one exchange-free complete-mode stage.
    */
  def stageOrdersByCustkey(spark: SparkSession, dir: String, buckets: Int,
      table: String = "g_ord_bkt"): DataFrame = {
    stageBucketedSorted(
      Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
      buckets, "o_custkey", Seq("o_custkey"), table)
    spark.table(table)
  }

  /** The co-located fact-join layout (q2's shape at the scale where
    * nothing broadcasts): lineitem and orders each bucketed + sorted on
    * the orderkey, so the fact join runs as a zero-exchange co-located
    * SortMergeJoin.
    */
  def stageFactsByOrderkey(spark: SparkSession, dir: String, buckets: Int,
      lineitemTable: String = "g_li_bkt", ordersTable: String = "g_o_bkt")
      : (DataFrame, DataFrame) = {
    stageBucketedSorted(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
      buckets, "l_orderkey", Seq("l_orderkey"), lineitemTable)
    stageBucketedSorted(
      Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
      buckets, "o_orderkey", Seq("o_orderkey"), ordersTable)
    (spark.table(lineitemTable), spark.table(ordersTable))
  }

  /** One pay-once staged layout: the source files its staging reads, and
    * the staging itself, given the bucket count and the digest suffix
    * its warehouse table names carry (dir digest + bucket count, so a
    * session that stages two dirs — as the specs do with sf0.001 and
    * sf0.01 — never aliases two datasets onto one table).
    *
    * [[cached]] stages once per (session, dir, buckets) and returns the
    * staged table on every later call — the amortization the layout
    * exists for (the six `q92+` kernel entries in SparkEntry share ONE
    * events staging this way). The memo is a [[SourceMemo]] whose
    * generation is [[Fingerprint.key]] of `sources`: a dir regenerated in
    * place mid-session sends the probes cold (the dispatcher falls back
    * to the declarative form — no stale bucketed table is ever served)
    * and the next explicit staging rewrites the same table name (r15
    * verdict item 3). The listing is metadata-only, sub-ms per probe.
    */
  final class Staged[V] private[Layouts] (val tag: String, sources: Seq[String],
      stage: (SparkSession, String, Int, String) => V) {
    private[graft] val memo = new SourceMemo[(String, Int), V]()
    private def fp(spark: SparkSession, dir: String): String =
      Fingerprint.key(spark, dir, sources: _*)

    def cached(spark: SparkSession, dir: String, buckets: Int = 32): V = {
      val suffix = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff) + s"_$buckets"
      val v = memo.get(spark, (dir, buckets), fp(spark, dir))(_ => stage(spark, dir, buckets, suffix))
      // Re-assert the two scan confs on EVERY call, not just at staging:
      // the cached frame re-plans at each action against the session's
      // CURRENT conf, and if anything reset autoBucketedScan after staging
      // (RESET, another library), the planner would revert to size-based
      // splits that can split one bucket file MID-USER across partitions —
      // the one violation the kernels' ascending-(user_id, ts) guard cannot
      // see (each fragment is still locally ascending). Cheap, idempotent.
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      v
    }

    /** The bucket counts this session staged from `dir`'s CURRENT sources,
      * smallest first. Only completed stagings count, so a thrown staging
      * never routes dispatch onto a table that was never built.
      */
    private def bucketsStaged(spark: SparkSession, dir: String): Seq[Int] =
      memo.completedIds(spark, fp(spark, dir)).collect { case (d, b) if d == dir => b }.sorted

    /** Cache probe for [[graft.Exec]]'s layout-form validity bounds: the
      * dispatcher runs a layout kernel only when this session has ALREADY
      * paid the staging (it never stages implicitly). ANY staged bucket
      * count satisfies it — the kernels' correctness needs the clustering
      * + within-bucket order, not a specific count, and a 64-bucket
      * staging that left the dispatcher on the declarative form would
      * silently waste the staging cost (r13 advice).
      */
    def isStaged(spark: SparkSession, dir: String): Boolean =
      bucketsStaged(spark, dir).nonEmpty

    /** The staged layout at WHICHEVER bucket count the session staged
      * (smallest when several) — the dispatcher-side accessor that can
      * never disagree with [[isStaged]]. Throws when nothing is staged:
      * callers gate on the probe first.
      */
    def staged(spark: SparkSession, dir: String): V =
      cached(spark, dir, bucketsStaged(spark, dir).headOption.getOrElse(
        throw new IllegalStateException(s"$tag layout not staged for $dir")))
  }

  val eventsLayout = new Staged[DataFrame]("events", Seq("events.parquet"),
    (s, d, b, sfx) => stageEventsByUser(s, d, b, s"g_ev_bkt_$sfx"))
  val ordersLayout = new Staged[DataFrame]("orders", Seq("orders.parquet"),
    (s, d, b, sfx) => stageOrdersByCustkey(s, d, b, s"g_ord_bkt_$sfx"))
  /** Both fact tables staged once; the `q98` driver entry runs q2's fact
    * join over them as a zero-exchange co-located SortMergeJoin.
    */
  val factsLayout = new Staged[(DataFrame, DataFrame)]("facts",
    Seq("lineitem.parquet", "orders.parquet"),
    (s, d, b, sfx) => stageFactsByOrderkey(s, d, b, s"g_li_bkt_$sfx", s"g_o_bkt_$sfx"))

  /** Every staged layout by its [[graft.Exec.Form]] `layout` tag. */
  val byTag: Map[String, Staged[_]] =
    Seq(eventsLayout, ordersLayout, factsLayout).map(l => l.tag -> l).toMap

  def eventsByUserCached(spark: SparkSession, dir: String, buckets: Int = 32): DataFrame =
    eventsLayout.cached(spark, dir, buckets)
  def ordersByCustkeyCached(spark: SparkSession, dir: String, buckets: Int = 32): DataFrame =
    ordersLayout.cached(spark, dir, buckets)
  def factsByOrderkeyCached(spark: SparkSession, dir: String, buckets: Int = 32)
      : (DataFrame, DataFrame) =
    factsLayout.cached(spark, dir, buckets)
  def isEventsLayoutStaged(spark: SparkSession, dir: String): Boolean =
    eventsLayout.isStaged(spark, dir)

  // NOTE (r13): memoizing a full QUERY frame (not just its scans) was
  // tried for q98/q99 and reverted — re-collecting one Dataset object
  // lets AQE reuse its materialized shuffle stages, so repeated "runs"
  // replay only the final stage (0.04 s readings for a 0.6 s join).
  // Scans (Tables.load) and staging (the layouts above) stay memoized;
  // query frames must be rebuilt per call so every timed run recomputes.
}
