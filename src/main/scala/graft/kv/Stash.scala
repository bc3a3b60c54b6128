package graft.kv

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A biggie-style entity: a keyed record of named tensor fields (value +
  * shape, row-major), scalar fields, string fields, and integer fields
  * (`longs` — 64-bit ids must not ride in the double `scalars` map, which
  * silently loses precision above 2^53).
  *
  * Mirrors the reference's Entity/Field model (biggie/core.py [public-repo,
  * module-level — see SURVEY.md §0/§1.1]): per-entity dynamic field sets are
  * expressed as maps, so two entities in one stash may carry different
  * fields without schema migration. Rank-n ndarrays are a flat double array
  * plus an explicit shape (Spark has no native tensor type).
  */
case class Entity(
    key: String,
    tensors: Map[String, Array[Double]] = Map.empty,
    shapes: Map[String, Array[Int]] = Map.empty,
    scalars: Map[String, Double] = Map.empty,
    strings: Map[String, String] = Map.empty,
    longs: Map[String, Long] = Map.empty)

/** Keyed entity store over Parquet — the Spark-native answer to biggie's
  * HDF5 Stash (biggie/sources.py [public-repo]).
  *
  * Design mapping (SURVEY.md §2.1):
  *  - keymap + hex-address fanout  → hash partitioning / bucketBy on key;
  *    point lookups prune via parquet predicate pushdown on `key`
  *  - LazyField column-at-a-time I/O → Catalyst column pruning (free)
  *  - cache=True                   → Dataset.persist
  *  - close()/flush durability     → atomic Parquet write commit (strictly
  *    stronger than biggie's write-keymap-on-close, which loses data on
  *    crash before close)
  *
  * The API is immutable/functional: mutators return a new Stash whose plan
  * contains the change; `save` materializes. At 100 TB, `save(path, n)`
  * writes hash-bucketed files so later point reads touch one bucket.
  */
final class Stash private (val entities: Dataset[Entity]) {
  import Stash.keyedUpsert

  private def spark: SparkSession = entities.sparkSession
  import entities.sparkSession.implicits._

  /** Point lookup — pushes `key = k` into the scan (bucket/row-group prune). */
  def get(key: String): Option[Entity] =
    entities.filter(col("key") === key).limit(1).collect().headOption

  /** Insert an entity; error if the key exists unless overwrite=true
    * (matches biggie `Stash.add(key, entity, overwrite=False)` semantics).
    */
  def add(entity: Entity, overwrite: Boolean = false): Stash = {
    if (!overwrite && get(entity.key).isDefined)
      throw new IllegalArgumentException(s"key exists: ${entity.key} (use overwrite=true)")
    new Stash(keyedUpsert(entities, spark.createDataset(Seq(entity))))
  }

  /** Bulk upsert (last-writer-wins per key) — the distributed write path;
    * one shuffle on key, no driver-side existence probes.
    */
  def addAll(batch: Dataset[Entity]): Stash = new Stash(keyedUpsert(entities, batch))

  def remove(key: String): Stash =
    new Stash(entities.filter(col("key") =!= key))

  def keys: DataFrame = entities.select("key")

  def count(): Long = entities.count()

  /** Full scan (biggie iteration). */
  def scan(): Dataset[Entity] = entities

  /** RAM-resident entities (biggie cache=True). */
  def cache(): Stash = { entities.persist(); this }

  /** Read one field of every entity — column pruning does the LazyField
    * trick: only the map entries' bytes for `field` are deserialized.
    */
  def field(name: String): DataFrame =
    entities.select(col("key"), element_at(col("tensors"), name).as(name))

  /** Persist. With buckets > 0, lay out hash-bucketed-by-key files so a
    * reopened stash co-locates each key range (the biggie hex-address
    * fanout). A key's bucket is `pmod(hash(key), buckets)` — the Murmur3
    * partition id of Spark's hash partitioner — and file i holds exactly
    * the keys whose bucket is i, whatever `spark.sql.shuffle.partitions`
    * or AQE is set to. `repartition(buckets, key)` cannot promise that:
    * when the plan is already hash-partitioned on key into `buckets`
    * partitions (keyedUpsert's window does so when shuffle.partitions ==
    * buckets), the planner drops it as redundant, and AQE then coalesces
    * the window's own shuffle into one file holding every bucket. The
    * partition-id shuffle of `repartitionById` is never dropped or
    * coalesced.
    *
    * Every file carries a parquet BLOOM FILTER on `key` (r12 verdict: the
    * point-lookup index footer min/max stats cannot be): keys hash-scatter
    * across the key space, so row-group min/max ranges overlap and prune
    * nothing — the bloom filter rejects a non-matching row group in O(1),
    * which is what makes `get` on a 100 TB store "one bucket file, skip
    * every row group but the hit's". `bloomNdv` is per ROW GROUP (not per
    * store); the 100k default ≈ 120 KB of filter per group at the
    * format's default fpp — negligible next to the group itself. SIZE IT
    * to your expected distinct keys per row group: a filter sized for
    * 100k holding millions of tiny-entity keys saturates (fpp → 1) and
    * stops pruning. The format also caps one filter at
    * `parquet.bloom.filter.max.bytes` (1 MB ≈ 1M ndv), so row groups
    * denser than that need smaller groups, more buckets, or fatter
    * entities — not a bigger ndv.
    */
  def save(path: String, buckets: Int = 0, bloomNdv: Long = 100000L): Unit = {
    val w = if (buckets > 0)
      entities.repartitionById(buckets, pmod(hash(col("key")), lit(buckets))).write
    else entities.write
    w.option("parquet.bloom.filter.enabled#key", "true")
      .option("parquet.bloom.filter.expected.ndv#key", bloomNdv.toString)
      .mode(SaveMode.Overwrite).parquet(path)
  }
}

object Stash {

  def empty(spark: SparkSession): Stash = {
    import spark.implicits._
    new Stash(spark.emptyDataset[Entity])
  }

  def open(spark: SparkSession, path: String): Stash = {
    import spark.implicits._
    // Schema evolution: a stash written before an Entity field existed (e.g.
    // `longs`) must still open — backfill missing columns with empty maps so
    // the typed encoder never sees a null field.
    val enc = implicitly[org.apache.spark.sql.Encoder[Entity]]
    var df = spark.read.parquet(path)
    enc.schema.foreach { f =>
      if (!df.columns.contains(f.name)) {
        val fill = f.dataType match {
          case _: org.apache.spark.sql.types.MapType =>
            map_from_arrays(array(), array()).cast(f.dataType)
          case dt => lit(null).cast(dt)
        }
        df = df.withColumn(f.name, fill)
      }
    }
    new Stash(df.as[Entity])
  }

  def fromEntities(spark: SparkSession, es: Seq[Entity]): Stash = {
    import spark.implicits._
    empty(spark).addAll(spark.createDataset(es))
  }

  /** Open the newest version under a versioned stash root (`root/v<N>` dirs
    * as written by [[graft.streaming.Streams.streamIntoStash]]). Returns
    * the empty stash and version -1 when none exists yet. Only versions
    * carrying the committer's `_SUCCESS` marker count — a crash mid-write
    * leaves a partial directory that must not shadow the last good version.
    * Versioned dirs make each streaming batch commit idempotent: a retried
    * batch rewrites ITS OWN version directory, never the one it read from,
    * so read and write never alias. (A production deployment would use a transactional
    * table format for the same property; plain parquet + versions keeps the
    * engine dependency-free.)
    */
  /** @param beforeVersion only consider versions STRICTLY BELOW this bound.
    *   A streaming batch N must pass N here: on a retry of batch N, version
    *   vN may already be committed, and opening it would make the batch
    *   read the very directory it is about to overwrite (Spark either
    *   refuses or destroys the input). Bounding the lookup to < N makes the
    *   retry re-read exactly what the original attempt read.
    */
  def openLatest(spark: SparkSession, root: String,
      beforeVersion: Long = Long.MaxValue): (Stash, Long) = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions: Seq[Long] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d.getPath, "_SUCCESS")))
        .map(_.getPath.getName)
        .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
        .filter(_ < beforeVersion)
    if (versions.isEmpty) (empty(spark), -1L)
    else (open(spark, s"$root/v${versions.max}"), versions.max)
  }

  /** Garbage-collect version dirs strictly below `keepFrom` under a
    * versioned stash root. Safe once the caller knows no reader can need
    * them: a streaming batch N (which read version `keepFrom` = the max
    * committed version < N) may be retried until its checkpoint advances,
    * and that retry re-reads `keepFrom` — but nothing ever reads below it
    * again, because openLatest always picks the MAX committed version under
    * its bound. Without GC a long-running stream accumulates one full state
    * copy per batch (ADVICE round 3).
    */
  def gcVersions(spark: SparkSession, root: String, keepFrom: Long): Unit = {
    if (keepFrom <= 0) return
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    fs.listStatus(p).toSeq.filter(_.isDirectory)
      .filter(_.getPath.getName.matches("v\\d+"))
      .filter(_.getPath.getName.drop(1).toLong < keepFrom)
      .foreach(d => fs.delete(d.getPath, true))
  }

  /** Compact the newest committed version of a versioned stash root into
    * `buckets` key-hashed files, committed as the NEXT version — the
    * small-file remedy for streaming-ingested stores, where each batch's
    * upsert writes parallelism-many files and a long-running stream
    * accumulates thousands of kilobyte-scale parquet footers that dominate
    * open() planning time at scale. Contents are byte-identical; only the
    * layout changes, and the key-hashed layout is the one [[Stash.save]]'s
    * bucketed fanout already co-locates reads against.
    *
    * MUST run on a QUIESCED store: versions are streaming batch ids, so a
    * live stream's next batch would overwrite (not corrupt — its own
    * beforeVersion bound makes it re-read the pre-compaction version and
    * write the same merged result) the compacted dir. Returns the new
    * version, or -1 when the root has no committed version.
    */
  /** @param bloomNdv forwarded to [[Stash.save]] — compaction merges many
    *   small files into few large row groups (MORE distinct keys per
    *   group), so a store saved with a raised ndv must compact with one
    *   too or its filters silently saturate (r13 review).
    */
  def compactLatest(spark: SparkSession, root: String, buckets: Int,
      bloomNdv: Long = 100000L): Long = {
    val (stash, v) = openLatest(spark, root)
    if (v < 0) -1L
    else {
      stash.save(s"$root/v${v + 1}", buckets, bloomNdv)
      v + 1
    }
  }

  /** Merge of `updates` into `base`, one shuffle on key: an update always
    * beats the base row for its key (explicit priority column). Duplicate
    * keys WITHIN one updates batch (or within an opened stash) have no
    * defined order on a distributed Dataset and are resolved arbitrarily —
    * dedupe upstream when that matters.
    */
  private def keyedUpsert(base: Dataset[Entity], updates: Dataset[Entity]): Dataset[Entity] = {
    val spark = base.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tagged = base.withColumn("_pri", lit(0))
      .unionByName(updates.withColumn("_pri", lit(1)))
    val w = Window.partitionBy(col("key")).orderBy(col("_pri").desc)
    tagged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_pri", "_rn")
      .as[Entity]
  }
}
