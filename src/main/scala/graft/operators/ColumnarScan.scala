package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Columnar-batch access to a parquet scan — the engine's answer to the
  * measured vectorized-reader→row boundary constant.
  *
  * Why this exists (the r12 decomposition record): for the events/orders
  * query families, every remaining >2× marginal vs the DuckDB baseline was
  * decomposed to either (a) the bare scan+agg constant (q11 — the whole
  * marginal IS `ColumnarToRowExec` + codegen'd per-row agg consume,
  * tools/bench_q11_decomp_latest.json@ec375fe) or (b) a single operator's per-row
  * JVM cost (q12's interval agg, q13's WindowExec). Plan-level work is
  * exhausted: those plans already have zero avoidable exchanges, pruned
  * scans, and whole-stage codegen. The only structure left ABOVE the plan
  * is the row boundary itself: Spark's parquet reader produces
  * [[ColumnarBatch]]es, then `ColumnarToRowExec` walks them row-wise into
  * codegen — paying per-row virtual reads, null checks and UnsafeRow
  * traffic before the aggregate sees a single value.
  *
  * [[soleColumnarScan]] hands a kernel the scan's OWN columnar output —
  * the exact RDD[ColumnarBatch] the vectorized reader builds, with
  * partition layout, pruning and pushed filters untouched — so a
  * tight-loop kernel can consume column vectors directly (long/double
  * primitive reads, batch-level null short-circuit via
  * `ColumnVector.hasNull`). This is the same seam Spark's own columnar
  * accelerators (the `org.apache.spark.sql.columnar` plugin API) attach
  * to; here it feeds hand-written aggregation kernels whose results are
  * driver-gated against the SAME DuckDB oracles as their declarative
  * twins (the q92–q97 discipline: a kernel that drifts hash-mismatches).
  *
  * Scale: nothing driver-side happens here — the RDD is the scan's
  * distributed output, one batch stream per file split, so a kernel on
  * top is exactly as partitioned/parallel as the scan it replaces.
  */
object ColumnarScan {

  /** Prepared-plan memo for kernel input frames, keyed (session, dir, tag).
    *
    * Why: the r14 floor decomposition measured the per-dispatch cost of a
    * kernel query as ~22 ms of Catalyst re-planning + ~8 ms of stats
    * re-probe against a ~25 ms job — the same immutable scan+project frame
    * re-analyzed, re-optimized and re-planned on every call. A DataFrame
    * object memoizes its QueryExecution (lazy vals), so handing callers
    * the SAME frame per (session, dir) amortizes all of that exactly like
    * a prepared statement, which is the dispatch semantics [[graft.Exec]]
    * wants: repeated queries over an immutable corpus plan once.
    *
    * Honesty/safety contract (why this does NOT trip the AQE stage-reuse
    * trap that forbids memoizing full query frames): an input frame here
    * is a pure scan+projection/filter — its plan contains no Exchange, so
    * there is no materialized shuffle stage a later collect could silently
    * reuse; every job over it re-reads parquet in full. Callers must only
    * memoize frames derived deterministically from (session, dir).
    *
    * The memo is a [[graft.SourceMemo]] with identity (dir, tag) and
    * generation [[graft.Fingerprint]] of the whole of `d` (metadata-only
    * listing, recomputed per call): a corpus regenerated in place mid-
    * session gets a freshly planned frame on the next dispatch instead of
    * a stale prepared plan — the r15 "dir immutability trusted on a doc
    * caveat" finding. The listing costs ~sub-ms against the ~30 ms the
    * prepared plan saves, so the guard does not erode the memo's point.
    */
  private[graft] val inputMemo = new graft.SourceMemo[(String, String), DataFrame]()

  def inputCached(s: org.apache.spark.sql.SparkSession, d: String, tag: String)
      (build: => DataFrame): DataFrame =
    inputMemo.get(s, (d, tag), graft.Fingerprint.key(s, d))(_ => build)

  /** The single scan leaf under `df`'s executed plan, verified columnar.
    *
    * The caller's `df` exists only to DRIVE planning (column pruning,
    * partition pruning, filter pushdown); any projections/casts layered
    * above the scan are intentionally discarded — the kernel re-derives
    * its semantics from raw scan columns (and must: e.g. events.ts
    * arrives as NTZ micros or NANOS longs depending on testdata
    * generation, and the kernel replicates Tables.events' normalization
    * on the primitive values).
    *
    * Loud-failure contract (the badLayout discipline): a plan with joins,
    * multiple leaves, or a non-columnar scan (vectorized reader disabled,
    * nested schema, non-parquet source) throws with the plan attached —
    * a kernel must never silently aggregate the wrong relation.
    */
  def soleColumnarScan(df: DataFrame): SparkPlan = {
    // AdaptiveSparkPlanExec is itself a LeafExecNode — unwrap it so the
    // leaf census below sees the real scan structure (a pure scan is
    // normally not AQE-wrapped, but joins are, and the error message for
    // "you handed the kernel a join" must say so)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val leaves = plan.collectLeaves()
    if (leaves.size != 1) throw new KernelRefusal(
      s"ColumnarScan needs exactly one scan leaf, found ${leaves.size}:\n$plan")
    // A kernel consumes the SCAN's output and re-derives its semantics —
    // any plan node above the scan is advisory (it drives pruning and
    // filter pushdown) and is otherwise DISCARDED. That is safe for
    // project/filter shapes; anything that would reorder, redistribute or
    // transform rows (Exchange, Sort, Join, Aggregate, …) must be
    // rejected loudly here, or a kernel with an ordering precondition
    // would read the raw scan where the caller believed a sort applied.
    plan.foreach {
      case _: org.apache.spark.sql.execution.WholeStageCodegenExec
         | _: org.apache.spark.sql.execution.InputAdapter
         | _: org.apache.spark.sql.execution.ProjectExec
         | _: org.apache.spark.sql.execution.FilterExec
         | _: org.apache.spark.sql.execution.ColumnarToRowExec => ()
      case p if p eq leaves.head => ()
      case other => throw new KernelRefusal(
        s"ColumnarScan: plan node ${other.nodeName} above the scan would be " +
        s"silently discarded by a columnar kernel — hand the kernel a pure " +
        s"scan (projections/filters only):\n$plan")
    }
    val scan = leaves.head
    if (!scan.supportsColumnar) throw new KernelRefusal(
      "ColumnarScan: the scan does not produce ColumnarBatches (vectorized " +
      s"reader disabled, or unsupported schema/source):\n$scan")
    scan
  }

  /** The scan's columnar output plus its schema (column order == vector
    * order in each batch). Schema fields are the PRUNED read columns —
    * index by name, not by the caller's select order.
    */
  def batches(df: DataFrame): (RDD[ColumnarBatch], StructType) = {
    val scan = soleColumnarScan(df)
    (scan.executeColumnar(), scan.schema)
  }
}

/** Per-partition string→dense-int interner for columnar kernels, with the
  * parquet DICTIONARY fast path: low-cardinality string columns stay
  * dictionary-encoded through the vectorized reader (an encoding fallback
  * mid-row-group makes the reader materialize the whole batch, so
  * `hasDictionary` is a safe all-or-nothing per-batch signal), and then a
  * row costs one int read + one array index — the string is decoded ONCE
  * per (batch, dictionary id). Plain-encoded batches fall back to a
  * content-hash probe per row. Ids are dense, stable for the partition's
  * life, and decode via [[name]].
  *
  * Usage per batch: [[bind]] the column vector, then [[idAt]] for each
  * row the CALLER has already null-checked.
  *
  * Id space is capped at `maxIds` (default 0xFFFFF = 2^20 − 1): the packed
  * group keys in the q1/q7/q11 kernels give each interned column 20 bits
  * and reserve 0xFFFFF as the NULL sentinel, so an interner silently
  * handing out id 0xFFFFF (or wider) would alias real groups into the
  * null group / corrupt neighboring key bits. [[internAt]] throws at the
  * cap instead (the seam's loud-failure discipline) — a genuinely
  * high-cardinality string column belongs on the declarative path.
  */
final class StringIdInterner(maxIds: Int = 0xFFFFF) {
  private val ids = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer]()
  private val names = scala.collection.mutable.ArrayBuffer.empty[String]
  private var vec: org.apache.spark.sql.vectorized.ColumnVector = null
  private var dictIds: org.apache.spark.sql.vectorized.ColumnVector = null
  private var remap: Array[Int] = null

  def bind(v: org.apache.spark.sql.vectorized.ColumnVector): Unit = {
    vec = v
    dictIds = v match {
      case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
        if w.hasDictionary => w.getDictionaryIds
      case _ => null
    }
    remap = null // dictionary ids are only meaningful within one batch
  }

  /** Dense id for the (non-null) string at row `i` of the bound vector. */
  def idAt(i: Int): Int = {
    if (dictIds != null) {
      val did = dictIds.getInt(i)
      if (remap == null || did >= remap.length) {
        val grown = new Array[Int](Math.max(256, Integer.highestOneBit(Math.max(did, 1)) * 4))
        java.util.Arrays.fill(grown, -1)
        if (remap != null) System.arraycopy(remap, 0, grown, 0, remap.length)
        remap = grown
      }
      val cached = remap(did)
      if (cached != -1) cached
      else { val id = internAt(i); remap(did) = id; id }
    } else internAt(i)
  }

  private def internAt(i: Int): Int = {
    val s = vec.getUTF8String(i)
    var boxed = ids.get(s)
    if (boxed == null) {
      if (names.length >= maxIds) throw new KernelRefusal(
        s"StringIdInterner: distinct-value count reached the id cap $maxIds " +
        "(the packed-key kernels reserve this id as the NULL sentinel) — " +
        "this column's cardinality needs the declarative path.")
      boxed = Integer.valueOf(names.length)
      ids.put(s.clone(), boxed)
      names += s.toString
    }
    boxed.intValue()
  }

  /** Decode an id back to its string. */
  def name(id: Int): String = names(id)
  def size: Int = names.length
}

/** Minimal open-addressing long→accumulator map for columnar kernels:
  * primitive arrays only (no per-probe boxing — `java.util.HashMap[Long,_]`
  * allocates a boxed key per get), `slots` parallel long accumulators per
  * key, linear probing at ≤0.5 load. Group cardinality in the kernels
  * using this is tiny (days × event types), so the table stays L1/L2
  * resident; the growth path exists for safety, not for the hot case.
  */
final class LongAccMap(slots: Int, initCap: Int = 1024,
    private[graft] val maxCap: Int = 1 << 28) extends Serializable {
  require(Integer.bitCount(initCap) == 1, "capacity must be a power of two")
  private var cap = initCap
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  private var vals = new Array[Long](cap * slots)
  private var n = 0

  /** Base index into [[values]] for `key`'s accumulators, inserting a
    * zeroed entry on first sight.
    */
  def slot(key: Long): Int = {
    var i = (java.lang.Long.hashCode(key * -7046029254386353131L)) & mask
    while (used(i)) {
      if (keys(i) == key) return i * slots
      i = (i + 1) & mask
    }
    used(i) = true; keys(i) = key; n += 1
    if (n * 2 > cap) { grow(); slot(key) } else i * slots
  }

  /** Base index for `key` WITHOUT inserting; -1 when absent. The probe
    * side of a kernel build-map uses this (a miss must not allocate).
    */
  def getSlot(key: Long): Int = {
    var i = (java.lang.Long.hashCode(key * -7046029254386353131L)) & mask
    while (used(i)) {
      if (keys(i) == key) return i * slots
      i = (i + 1) & mask
    }
    -1
  }

  def values: Array[Long] = vals
  def size: Int = n

  /** Visit every (key, baseIndex) pair. */
  def foreachEntry(f: (Long, Int) => Unit): Unit = {
    var i = 0
    while (i < cap) { if (used(i)) f(keys(i), i * slots); i += 1 }
  }

  private def grow(): Unit = {
    // Hard ceiling (maxCap/2 = 2^27 entries at the ≤0.5 load factor —
    // ≈ 2+ GiB of key/value arrays at slots=1): a kernel whose
    // per-partition group space reaches this is being run
    // far outside its design regime — fail loudly before the allocator
    // does, pointing at the declarative twin (same discipline as the
    // interner's id cap).
    if (cap >= maxCap) throw new KernelRefusal(
      s"LongAccMap: key count exceeded ${cap / 2} — per-partition kernel " +
      "state is no longer bounded; use the declarative form for this input.")
    val ok = keys; val ou = used; val ov = vals; val ocap = cap
    cap *= 2; mask = cap - 1; n = 0
    keys = new Array[Long](cap); used = new Array[Boolean](cap)
    vals = new Array[Long](cap * slots)
    var i = 0
    while (i < ocap) {
      if (ou(i)) {
        val base = slot(ok(i))
        var s = 0
        while (s < slots) { vals(base + s) = ov(i * slots + s); s += 1 }
      }
      i += 1
    }
  }
}
