package graft.kv

import java.util.stream.IntStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter.{ColumnPredicates, ColumnRecordFilter}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.OffsetIndex
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{MapType, StructType}

import graft.Fingerprint

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
  *  - keymap (key → address)         → [[Stash.KeyIndex]]: an opened
  *    stash maps key → (data file, row group, row) from the files' `key`
  *    column, and `get` reads the pages that hold its row on the driver,
  *    no job
  *  - hex-address fanout             → hash-bucketed files (`save`)
  *  - LazyField column-at-a-time I/O → Catalyst column pruning (free)
  *  - cache=True                     → Dataset.persist
  *  - close()/flush durability       → atomic Parquet write commit (strictly
  *    stronger than biggie's write-keymap-on-close, which loses data on
  *    crash before close)
  *
  * The API is immutable/functional: mutators return a new Stash whose plan
  * contains the change; `save` materializes. At 100 TB, `save(path, n)`
  * writes hash-bucketed files so later point reads touch one bucket.
  * Removals are held as a key set and planned as one `NOT key IN (...)`
  * filter when the rows are first needed, so a run of `remove` calls does
  * not grow a chain of Datasets that Spark re-analyses on every call.
  */
final class Stash private (
    base: Dataset[Entity],
    removed: Set[String],
    index: Option[Stash.KeyIndex]) {
  import Stash.keyedUpsert

  private def this(base: Dataset[Entity]) = this(base, Set.empty, None)

  private def spark: SparkSession = base.sparkSession
  import base.sparkSession.implicits._

  /** The stash's rows: `base` without the pending removals. */
  lazy val entities: Dataset[Entity] =
    if (removed.isEmpty) base else base.filter(!col("key").isin(removed.toSeq: _*))

  /** Point lookup. A removed key misses with no I/O; an opened stash with
    * no writes since `open` answers from its keymap; any other stash runs
    * a `key = k` scan (bucket/row-group prune).
    */
  def get(key: String): Option[Entity] =
    if (removed(key)) None
    else index.flatMap(_.get(spark, key))
      .getOrElse(entities.filter(col("key") === key).limit(1).collect().headOption)

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

  def remove(key: String): Stash = new Stash(base, removed + key, index)

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
    * which is what makes a `key = k` scan on a 100 TB store "one bucket
    * file, skip every row group but the hit's" (the `get` path of a stash
    * with writes since `open`, or of a store too big for the keymap).
    * `bloomNdv` is per ROW GROUP (not per store); the 100k default ≈
    * 120 KB of filter per group at the format's default fpp — negligible
    * next to the group itself. SIZE IT
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

  def open(spark: SparkSession, path: String): Stash =
    open(spark, path, Runtime.getRuntime.maxMemory / KeymapHeapShare)

  /** The keymap holds a key column's worth of strings on the driver: a
    * store whose key-column bytes exceed this share of the max heap keeps
    * the scan for `get`. A JVM string plus its map entry is a few times
    * its column bytes, so 1/64 keeps the keymap under a tenth of the heap.
    */
  private val KeymapHeapShare = 64

  private[kv] def open(spark: SparkSession, path: String, keymapBudget: Long): Stash = {
    import spark.implicits._
    // Schema evolution: a stash written before an Entity field existed (e.g.
    // `longs`) must still open — backfill missing columns with empty maps so
    // the typed encoder never sees a null field.
    var df = footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)
    entitySchema.foreach { f =>
      if (!df.columns.contains(f.name)) {
        val fill = f.dataType match {
          case _: MapType => map_from_arrays(array(), array()).cast(f.dataType)
          case dt => lit(null).cast(dt)
        }
        df = df.withColumn(f.name, fill)
      }
    }
    new Stash(df.as[Entity], Set.empty, Some(new KeyIndex(path, keymapBudget)))
  }

  /** The schema Spark's inference reads when `mergeSchema` is off: the
    * first data file's footer. Read on the driver, it spares `open` the
    * inference job. `None` (infer) when `mergeSchema` is on, or `path` is
    * not a flat directory of data files.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      dataFiles(new Path(path), conf).flatMap(_.headOption).map { f =>
        ParquetFileFormat.readSchemaFromFooter(new Footer(f, new DataFile(f, conf).footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
    }

  private lazy val entityEncoder = ExpressionEncoder[Entity]()
  private def entitySchema: StructType = entityEncoder.schema

  /** The keymap of an opened store: key → (data file, row group, row), read
    * from the `key` column of the store directory's own parquet files on
    * the first `get` and rebuilt whenever the directory's
    * [[graft.Fingerprint]] moves. It lives as long as the stash that
    * opened it, so a store's dead versions take their keymaps with them.
    */
  private[kv] final class KeyIndex(dir: String, budget: Long) {
    private var built: (String, Option[Keymap]) = null

    /** `Some(answer)` from the keymap, or `None` when this store cannot be
      * keymapped (over budget, not a flat directory of files).
      */
    def get(spark: SparkSession, key: String): Option[Option[Entity]] = synchronized {
      val fp = Fingerprint.of(spark, dir)
      if (built == null || built._1 != fp) built = (fp, Keymap.build(spark, dir, budget))
      built._2.map(_.get(key))
    }
  }

  /** key → its row, packed as `group << 32 | row`: the index of its row
    * group in `groups` and its row within that group.
    */
  private final class Keymap(groups: IndexedSeq[(DataFile, Int)], at: mutable.HashMap[String, Long]) {
    private val decode = entityEncoder.resolveAndBind().createDeserializer()

    /** Reads the pages that hold the key's row on the driver, filtered to
      * `key = k`, through Spark's own parquet row converter and the Entity
      * encoder.
      */
    def get(key: String): Option[Entity] = at.get(key).flatMap { loc =>
      val (file, group) = groups((loc >>> 32).toInt)
      Option(file.read(group, loc.toInt, key)).map { row =>
        // open's backfill, for the columns this file does not have
        val fields = entitySchema.fields
        decode(new GenericInternalRow(Array.tabulate[Any](fields.length) { j =>
          val f = fields(j)
          if (file.schema.containsField(f.name)) row.get(j, f.dataType)
          else f.dataType match {
            case _: MapType => new ArrayBasedMapData(
              new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))
            case _ => null
          }
        }))
      }
    }
  }

  /** One parquet data file of a store: its footer, read once, and the read
    * set-up its first hit makes, kept for the keymap's life.
    */
  private final class DataFile(path: Path, conf: Configuration) {
    private val input = HadoopInputFile.fromPath(path, conf)
    // read options from `conf`: the options' no-argument default loads a
    // fresh Hadoop Configuration (~15 ms)
    private val options = HadoopReadOptions.builder(conf, path).build()
    val footer: ParquetMetadata = {
      val r = ParquetFileReader.open(input, options)
      try r.getFooter finally r.close()
    }
    def schema: MessageType = footer.getFileMetaData.getSchema

    /** A reader over the footer above: no footer read. */
    def open(): ParquetFileReader = new ParquetFileReader(input, footer, options, input.newStream())

    // Row groups whose column chunks carry an offset index, so a read can
    // take only the pages that hold one row. pyarrow's default writer
    // writes none; those groups are read whole.
    private val paged = footer.getBlocks.asScala
      .map(_.getColumns.asScala.forall(_.getOffsetIndexReference != null)).toIndexedSeq

    // One row converter for every hit on this file: safe only because
    // KeyIndex.get, the one caller, is synchronized.
    private lazy val (requested, columnIO, rows) = {
      val meta = footer.getFileMetaData
      val support = new ParquetReadSupport(None, false,
        RebaseSpec(LegacyBehaviorPolicy.CORRECTED), RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
      val ctx = support.init(new InitContext(conf,
        meta.getKeyValueMetaData.asScala.map { case (k, v) => k -> Set(v).asJava }.asJava,
        meta.getSchema))
      (ctx.getRequestedSchema,
        new ColumnIOFactory(meta.getCreatedBy).getColumnIO(ctx.getRequestedSchema, meta.getSchema, true),
        support.prepareForRead(conf, meta.getKeyValueMetaData, meta.getSchema, ctx))
    }

    /** Row `row` of row group `group` if its key is `key`, else null. The
      * row converter's row: valid until the next read.
      */
    def read(group: Int, row: Int, key: String): InternalRow = {
      val reader = open()
      try {
        reader.setRequestedSchema(requested)
        val pages =
          if (paged(group)) reader.readFilteredRowGroup(group, oneRow(group, row))
          else reader.readRowGroup(group)
        columnIO.getRecordReader(pages, rows,
          // this filter skips the other columns of a non-matching row
          // undecoded; the first matching row or null
          FilterCompat.get(ColumnRecordFilter.column("key", ColumnPredicates.equalTo(key))))
          .read()
      } finally reader.close()
    }

    /** Row `row` alone, as row ranges. `RowRanges` has no public one-range
      * constructor, so a one-page offset index whose first and last row are
      * both `row` stands in for the file's own. Pages start on row
      * boundaries wherever an offset index exists, so the read is exact for
      * the nested map and array columns too.
      */
    private def oneRow(group: Int, row: Long): RowRanges =
      RowRanges.create(footer.getBlocks.get(group).getRowCount, IntStream.of(0).iterator(),
        new OffsetIndex {
          def getPageCount: Int = 1
          def getOffset(page: Int): Long = 0L
          def getCompressedPageSize(page: Int): Int = 0
          def getFirstRowIndex(page: Int): Long = row
          override def getLastRowIndex(page: Int, rowGroupRowCount: Long): Long = row
        })
  }

  private object Keymap {

    /** Reads only the `key` column chunks. `None` when `dir` is not a flat
      * directory of parquet files with a `key` column, or when the key
      * columns' bytes (summed from the footers) exceed `budget`.
      */
    def build(spark: SparkSession, dir: String, budget: Long): Option[Keymap] = {
      val conf = spark.sessionState.newHadoopConf()
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, entitySchema.json)
      // the flags Spark's parquet scan sets for its row converter
      Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
        SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
        .foreach(e => conf.setBoolean(e.key, spark.sessionState.conf.getConf(e)))
      val files = dataFiles(new Path(dir), conf) match {
        case Some(ps) => ps.map(new DataFile(_, conf))
        case None => return None
      }
      val keyBytes = files.map(f => keyColumnBytes(f.footer))
      if (keyBytes.exists(_.isEmpty) || keyBytes.flatten.sum > budget) return None
      val groups = mutable.ArrayBuffer.empty[(DataFile, Int)]
      val at = mutable.HashMap.empty[String, Long]
      files.foreach { f =>
        val r = f.open()
        try {
          val meta = f.footer.getFileMetaData
          val keySchema = new MessageType(meta.getSchema.getName, keyField(meta.getSchema))
          val col = keySchema.getColumns.get(0)
          r.setRequestedSchema(keySchema)
          f.footer.getBlocks.asScala.zipWithIndex.foreach { case (block, g) =>
            val pages = r.readRowGroup(g)
            val keys = new ColumnReadStoreImpl(pages,
              new GroupRecordConverter(keySchema).getRootConverter, keySchema, meta.getCreatedBy)
              .getColumnReader(col)
            // `key` is a top-level non-repeated column: value n is row n
            var n = 0L
            while (n < block.getRowCount) {
              // the first row group holding a key answers it, as a scan's limit(1) may
              if (keys.getCurrentDefinitionLevel == col.getMaxDefinitionLevel)
                at.getOrElseUpdate(keys.getBinary.toStringUsingUTF8, groups.size.toLong << 32 | n)
              keys.consume()
              n += 1
            }
            groups += f -> g
          }
        } finally r.close()
      }
      Some(new Keymap(groups.toIndexedSeq, at))
    }

    private def keyField(s: MessageType): Type = s.getType(s.getFieldIndex("key"))

    /** Bytes of a file's `key` column, if it has a string key column. */
    private def keyColumnBytes(m: ParquetMetadata): Option[Long] = {
      val s = m.getFileMetaData.getSchema
      val binaryKey = s.containsField("key") && keyField(s).isPrimitive &&
        keyField(s).asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.BINARY
      if (!binaryKey) None
      else Some(m.getBlocks.asScala.iterator.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "key").map(_.getTotalUncompressedSize).sum)
    }
  }

  /** A directory's data files, sorted by name, by Spark's rule for the
    * files a directory read skips; `None` when `root` is not a flat
    * directory of files.
    */
  private def dataFiles(root: Path, conf: Configuration): Option[Seq[Path]] = {
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return None
    val listed = fs.listStatus(root).toSeq.filterNot { st =>
      val n = st.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    }
    if (listed.exists(_.isDirectory)) None
    else Some(listed.map(_.getPath).sortBy(_.getName))
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
