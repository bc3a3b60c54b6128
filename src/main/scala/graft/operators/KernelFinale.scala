package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.reflect.ClassTag

/** The columnar kernels' aggregate finale, cost-tiered by partition count
  * (r16 verdict item 3: the measured post-memo dispatch remainder was the
  * aggregate job itself).
  *
  * Measured at sf0.1 warm (tools/bench_dispatch_decomp_latest.json@ec375fe): the
  * q9a kernel's `treeAggregate(depth = 2)` finale cost 111 ms where the
  * identical fold as ONE `runJob` stage + driver merge cost 43 ms — the
  * tree's intermediate shuffle stage is a full extra dispatch round
  * (~60 ms at local[32]), pure overhead when the partition count is small.
  *
  * Why the single-stage merge is safe in the gated regime: every kernel
  * build that reaches this finale is bounded by `requireBuildBounded` /
  * `withinBroadcastBound` FIRST, and each scanned row contributes at most
  * one accumulator entry, so the driver's ingress across all partials is
  * bounded by the gated scan itself — the same bytes the driver was
  * already cleared to broadcast. The tree merge only reduces ingress when
  * the same keys recur across MANY partitions; that regime coincides with
  * high partition counts, so the cutover below keeps it: past
  * [[singleStageMaxPartitions]] (a 1000-executor cluster reading 100 TB,
  * never local[32]) the finale reverts to `treeAggregate(depth = 2)` and
  * partials merge on executors before one set reaches the driver.
  */
object KernelFinale {

  /** Above this partition count the finale tree-merges on executors.
    * 256 ≈ the point where a two-level tree's extra stage amortizes:
    * below it the driver merges at most a few hundred gated partials
    * (microseconds of CPU against a ~60 ms saved stage); above it,
    * partial-count × set-size driver ingress starts to matter more than
    * one extra dispatch round.
    */
  val singleStageMaxPartitions = 256

  /** `treeAggregate` semantics, one stage when the partition count is
    * small: run `seqOp` as a fold per partition (one job, no shuffle),
    * merge the per-partition partials on the driver with `combOp`.
    * `zero` is a thunk so each partition folds into its OWN fresh
    * accumulator (treeAggregate clones the zero by serialization; these
    * accumulators are mutable, so sharing one would corrupt).
    */
  def aggregate[T, U: ClassTag](rdd: RDD[T], zero: () => U)(
      seqOp: (U, T) => U, combOp: (U, U) => U): U =
    if (rdd.getNumPartitions <= singleStageMaxPartitions) {
      val partials = rdd.sparkContext.runJob(rdd,
        (it: Iterator[T]) => it.foldLeft(zero())(seqOp))
      if (partials.isEmpty) zero() else partials.reduce(combOp)
    } else rdd.treeAggregate(zero())(seqOp, combOp, depth = 2)

  /** The finale's tiny result frame as a LocalRelation built directly
    * from catalyst values (no per-row converter lookup / asJava round
    * trip — measured ~2.5 ms/call cheaper than `createDataFrame` on the
    * one-row frames). PRIMITIVE/boxed values and null only: callers with
    * strings or nested types go through `createDataFrame`, which owns
    * the converter table.
    */
  def primitiveRows(spark: SparkSession, schema: StructType,
      rows: Seq[Array[Any]]): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.localResult(spark, schema, rows)
}
