package graft.kv

import graft.SparkSpec
import java.nio.file.Files

/** KV property tests (SURVEY.md §5.2 item 3): biggie Stash semantics over
  * the Parquet-backed implementation.
  */
class StashSpec extends SparkSpec {

  private def e(k: String, v: Double*) = Entity(
    key = k,
    tensors = Map("x" -> v.toArray),
    shapes = Map("x" -> Array(v.length)),
    scalars = Map("n" -> v.length.toDouble),
    strings = Map("name" -> s"entity-$k"))

  test("get(add(s,k,e), k) == e") {
    val s = Stash.empty(spark).add(e("a", 1, 2, 3))
    val got = s.get("a").get
    assert(got.key == "a")
    assert(got.tensors("x").toSeq == Seq(1.0, 2.0, 3.0))
    assert(got.shapes("x").toSeq == Seq(3))
    assert(got.strings("name") == "entity-a")
  }

  test("add without overwrite on existing key fails; with overwrite wins") {
    val s = Stash.empty(spark).add(e("a", 1))
    intercept[IllegalArgumentException] { s.add(e("a", 9)) }
    val s2 = s.add(e("a", 9), overwrite = true)
    assert(s2.get("a").get.tensors("x").toSeq == Seq(9.0))
    assert(s2.count() == 1)
  }

  test("remove -> get misses; other keys unaffected") {
    val s = Stash.fromEntities(spark, Seq(e("a", 1), e("b", 2))).remove("a")
    assert(s.get("a").isEmpty)
    assert(s.get("b").isDefined)
    assert(s.count() == 1)
  }

  test("keys() == inserted set") {
    val ks = (0 until 20).map(i => s"k$i")
    val s = Stash.fromEntities(spark, ks.map(k => e(k, 1)))
    assert(s.keys.collect().map(_.getString(0)).toSet == ks.toSet)
  }

  test("roundtrip through bucketed parquet write/read") {
    val dir = Files.createTempDirectory("stash").toString + "/st"
    val es = (0 until 50).map(i => e(s"k$i", i.toDouble, i + 0.5))
    Stash.fromEntities(spark, es).save(dir, buckets = 4)
    val re = Stash.open(spark, dir)
    assert(re.count() == 50)
    val got = re.get("k7").get
    assert(got.tensors("x").toSeq == Seq(7.0, 7.5))
    assert(got.scalars("n") == 2.0)
  }

  test("saved files carry a key bloom filter; point lookups hit and miss correctly") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("stash-bloom").toString
    val es = (1 to 200).map(i => e(s"k$i", i.toDouble))
    Stash.fromEntities(spark, es).save(dir, buckets = 4)
    // every data file's footer must expose a bloom filter for `key` — the
    // point-lookup index that prunes row groups where min/max stats can't
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    var hitGroups = 0    // row groups whose filter admits the written key
    var missGroups = 0   // row groups whose filter rejects the absent key
    var groups = 0
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          groups += 1
          val keyCol = block.getColumns.asScala
            .find(_.getPath.toDotString == "key")
            .getOrElse(fail(s"no key column chunk in ${f.getName}"))
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(keyCol)
          assert(bf != null, s"no bloom filter on key in ${f.getName}")
          def probes(s: String): Boolean =
            bf.findHash(bf.hash(org.apache.parquet.io.api.Binary.fromString(s)))
          if (probes("k17")) hitGroups += 1
          if (!probes("definitely-never-written")) missGroups += 1
        }
      } finally reader.close()
    }
    // the written key probes positive SOMEWHERE (its bucket's group) but
    // the filters are selective: a miss lookup skips every row group, and
    // the hit key's hash-bucketed layout means most groups reject it too
    assert(hitGroups >= 1, "written key must probe positive in its bucket")
    assert(hitGroups < groups, "filters must be selective across buckets")
    assert(missGroups === groups, "an absent key must be rejected by every row group")
    val st = Stash.open(spark, dir)
    assert(st.get("k17").map(_.tensors("x").toSeq) === Some(Seq(17.0)))
    assert(st.get("nope") === None)
  }

  test("save(buckets) keeps one file per bucket when shuffle.partitions == buckets") {
    import org.apache.spark.sql.functions.{col, collect_set, hash, lit, pmod}
    // with equal counts the upsert window already hash-partitions on key
    // into `buckets` partitions: a `repartition(buckets, key)` is then
    // planned away and AQE may coalesce the store into a single file
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try {
      val dir = Files.createTempDirectory("stash-layout").toString + "/st"
      Stash.fromEntities(spark, (1 to 200).map(i => e(s"k$i", i.toDouble)))
        .save(dir, buckets = 4)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
      assert(files.size === 4, s"one file per bucket, got $files")
      val byFile = spark.read.parquet(dir)
        .groupBy(col("_metadata.file_name").as("f"))
        .agg(collect_set(pmod(hash(col("key")), lit(4))).as("b"))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toSet).toMap
      files.zipWithIndex.foreach { case (f, i) =>
        assert(byFile(f) === Set(i), s"$f must hold exactly bucket $i")
      }
    } finally spark.conf.set(key, prev)
  }

  test("dynamic per-entity fields: heterogeneous maps coexist") {
    val a = Entity("a", tensors = Map("cqt" -> Array(1.0)), shapes = Map("cqt" -> Array(1)))
    val b = Entity("b", scalars = Map("tempo" -> 120.0))
    val s = Stash.fromEntities(spark, Seq(a, b))
    assert(s.get("a").get.tensors.contains("cqt"))
    assert(s.get("b").get.tensors.isEmpty)
    assert(s.get("b").get.scalars("tempo") == 120.0)
  }

  test("field() reads one field across entities (lazy column access)") {
    val s = Stash.fromEntities(spark, Seq(e("a", 1, 2), e("b", 3)))
    val xs = s.field("x").collect().map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(xs == Map("a" -> Seq(1.0, 2.0), "b" -> Seq(3.0)))
  }

  test("addAll upsert is last-writer-wins per key") {
    import spark.implicits._
    val s = Stash.fromEntities(spark, Seq(e("a", 1), e("b", 2)))
      .addAll(spark.createDataset(Seq(e("b", 99), e("c", 3))))
    assert(s.count() == 3)
    assert(s.get("b").get.tensors("x").toSeq == Seq(99.0))
  }

  test("openLatest skips uncommitted (no _SUCCESS) version dirs") {
    val root = java.nio.file.Files.createTempDirectory("stashver").toString
    Stash.fromEntities(spark, Seq(Entity("a", scalars = Map("x" -> 1.0))))
      .save(s"$root/v0")
    Stash.fromEntities(spark, Seq(Entity("a", scalars = Map("x" -> 2.0))))
      .save(s"$root/v1")
    // fake a crashed half-written newer version: directory, no _SUCCESS
    val partial = new java.io.File(s"$root/v2")
    assert(partial.mkdir())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/v2/part-garbage"),
      Array[Byte](1, 2, 3))
    val (st, v) = Stash.openLatest(spark, root)
    assert(v == 1L, s"picked version $v instead of the last committed one")
    assert(st.get("a").get.scalars("x") == 2.0)
  }

  test("compactLatest: same contents, bucketed file count, next version; gc keeps it openable") {
    val root = java.nio.file.Files.createTempDirectory("stashcomp").toString
    val ents = (1 to 20).map(i => Entity(s"k$i", scalars = Map("x" -> i.toDouble)))
    // many-file layout: each save is a separate "batch" of the store
    Stash.fromEntities(spark, ents.take(10)).save(s"$root/v0")
    Stash.fromEntities(spark, ents).save(s"$root/v1", buckets = 16)
    val newV = Stash.compactLatest(spark, root, buckets = 2)
    assert(newV == 2L)
    val parts = new java.io.File(s"$root/v2").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts <= 2, s"$parts parquet files after compaction to 2 buckets")
    val (st, v) = Stash.openLatest(spark, root)
    assert(v == 2L)
    assert(st.count() == 20)
    assert(st.get("k7").get.scalars("x") == 7.0)
    // old layouts are now garbage; the compacted version must survive alone
    Stash.gcVersions(spark, root, keepFrom = 2L)
    assert(!new java.io.File(s"$root/v0").exists())
    val (st2, v2) = Stash.openLatest(spark, root)
    assert(v2 == 2L && st2.count() == 20)
    // empty root: no committed version to compact
    val bare = java.nio.file.Files.createTempDirectory("stashcomp-empty").toString
    assert(Stash.compactLatest(spark, bare, buckets = 2) == -1L)
  }

  // ---- the keymap point read ----------------------------------------------

  /** Entities with every field kind, some maps empty, some fields absent;
    * tensor `x` holds 1 to `maxLen` doubles.
    */
  private def mixed(n: Int, tag: Double = 0.0, maxLen: Int = 40): Seq[Entity] = {
    val rng = new scala.util.Random(n)
    (1 to n).map { i =>
      val len = 1 + rng.nextInt(maxLen)
      Entity(f"k$i%04d",
        tensors = if (i % 7 == 0) Map.empty
          else Map("x" -> Array.fill(len)(rng.nextGaussian() + tag), "y" -> Array(i.toDouble)),
        shapes = if (i % 7 == 0) Map.empty else Map("x" -> Array(len), "y" -> Array(1)),
        scalars = Map("s" -> (i + tag)),
        strings = if (i % 3 == 0) Map.empty else Map("label" -> s"l-$i"),
        longs = Map("id" -> (Long.MaxValue - i)))
    }
  }

  /** An entity as comparable values (arrays by content). */
  private def canon(e: Entity) = (e.key, e.tensors.view.mapValues(_.toSeq).toMap,
    e.shapes.view.mapValues(_.toSeq).toMap, e.scalars, e.strings, e.longs)

  /** `get` equals the stash's own scan for every key it holds, every key
    * in `alsoAsk`, and 50 misses. The scan is collected once: its row for
    * k is what `scan().filter(key === k)` returns.
    */
  private def assertGetsMatchScan(st: Stash, alsoAsk: Seq[String] = Nil): Unit = {
    val want = st.scan().collect().map(e => e.key -> canon(e)).toMap
    val asked = want.keys.toSeq ++ alsoAsk ++ (1 to 50).map(i => s"miss-$i")
    asked.foreach(k => assert(st.get(k).map(canon) === want.get(k), s"key $k"))
  }

  /** Spark jobs the current thread starts while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once a later marker job has been
      // seen, every job `body` started has been seen too
      sc.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30000000000L
      while (!seen.contains(s"$group-marker") && System.nanoTime < deadline) Thread.sleep(10)
      assert(seen.contains(s"$group-marker"), "listener never saw the marker job")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  /** Each row group of each data file under `dir`, in file and group order:
    * (file, rows, compressed bytes, pages of the largest column chunk).
    */
  private def rowGroups(dir: String): Seq[(String, Long, Long, Int)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .toSeq.flatMap { f =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
        try r.getFooter.getBlocks.asScala.toSeq.map { b =>
          (f.getAbsolutePath, b.getRowCount, b.getCompressedSize,
            b.getColumns.asScala.map(c => r.readOffsetIndex(c).getPageCount).max)
        } finally r.close()
      }
  }

  /** A store past the first page and the first row group: two files of
    * ~2k-double entities, written with small row groups and pages. The
    * writer checks page and row group sizes every 100 rows by default, which
    * would put each row group in one page; the row check minimum lowers it.
    */
  private lazy val pagedStore: String = {
    import spark.implicits._
    val dir = tmp("km-p") + "/st"
    spark.createDataset(mixed(400, maxLen = 4000)).coalesce(2).write
      .option("parquet.block.size", 1 << 20).option("parquet.page.size", 64 << 10)
      .option("parquet.page.size.row.check.min", 4)
      .parquet(dir)
    val groups = rowGroups(dir)
    groups.groupBy(_._1).values.foreach(g => assert(g.size >= 2, s"row groups per file: $groups"))
    assert(groups.forall(_._4 >= 2), s"pages per row group: $groups")
    dir
  }

  test("keymap get equals the scan: bucketed, unbucketed, compacted, no-longs, pending removes") {
    import spark.implicits._
    val es = mixed(240)
    val bucketed = tmp("km-b") + "/st"
    Stash.fromEntities(spark, es).save(bucketed, buckets = 8)
    val b = Stash.open(spark, bucketed)
    assertGetsMatchScan(b)
    // pending removes answer from the removal set, on the same keymap
    val removed = es.map(_.key).filter(_.endsWith("3"))
    assertGetsMatchScan(removed.foldLeft(b)(_.remove(_)), alsoAsk = removed)

    val flat = tmp("km-u") + "/st"
    Stash.fromEntities(spark, es).save(flat)
    assertGetsMatchScan(Stash.open(spark, flat))

    val root = tmp("km-c")
    Stash.fromEntities(spark, es.take(100)).save(s"$root/v0")
    assert(Stash.compactLatest(spark, root, buckets = 3) == 1L)
    assertGetsMatchScan(Stash.openLatest(spark, root)._1)

    // a store written before `longs` existed: open's backfill applies
    val old = tmp("km-o") + "/st"
    spark.createDataset(es.take(60)).drop("longs").write.parquet(old)
    val o = Stash.open(spark, old)
    assert(o.get("k0001").get.longs.isEmpty)
    assertGetsMatchScan(o)

    // rows past the first page of a column chunk and past a file's first row group
    assertGetsMatchScan(Stash.open(spark, pagedStore))
  }

  test("a keymap hit reads less than half of its row group's bytes") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val groups = rowGroups(pagedStore)
    val g = groups.indices.maxBy(groups(_)._3)
    val (file, rows, bytes, _) = groups(g)
    // the middle row of the largest row group, as a row index in its file
    val at = groups.take(g).filter(_._1 == file).map(_._2).sum + rows / 2
    val key = spark.read.parquet(file).select(col("key"), col("_metadata.row_index").as("i"))
      .filter(col("i") === at).collect().head.getString(0)
    // parquet-mr's vectored reads bypass the local file system's byte
    // count; the plain reads that stand in for them read the same ranges
    val vectored = "parquet.hadoop.vectored.io.enabled"
    val prev = spark.conf.getOption(vectored)
    spark.conf.set(vectored, "false")
    try {
      val st = Stash.open(spark, pagedStore)
      assert(st.get(key).isDefined) // builds the keymap and the file's read set-up
      def bytesRead = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesRead).sum
      val before = bytesRead
      assert(st.get(key).isDefined)
      val read = bytesRead - before
      assert(read < bytes / 2, s"a hit read $read bytes of a $bytes-byte row group")
      // a tensor page holds 64 KB or more, several rows' worth: the count sees it
      assert(read > bytes / rows, s"a hit counted $read bytes, less than one row's share")
    } finally prev.fold(spark.conf.unset(vectored))(spark.conf.set(vectored, _))
  }

  test("a pyarrow-written store without an offset index: get equals the scan") {
    // part-0.parquet: 120 entities p000..p119 in 4 row groups of 30, no page
    // index (pyarrow 16.1's default writer), made from the repo root by
    // python3 -c "import pyarrow as pa, pyarrow.parquet as pq; n=120; m=lambda v: pa.map_(pa.string(), v); pq.write_table(pa.table({'key': [f'p{i:03d}' for i in range(n)], 'tensors': pa.array([[('x', [i + j / 8 for j in range(i % 9)])] for i in range(n)], m(pa.list_(pa.float64()))), 'shapes': pa.array([[('x', [i % 9])] for i in range(n)], m(pa.list_(pa.int32()))), 'scalars': pa.array([[('s', i / 2)] for i in range(n)], m(pa.float64())), 'strings': pa.array([[('label', f'l-{i}')] if i % 3 else [] for i in range(n)], m(pa.string())), 'longs': pa.array([[('id', 2**62 + i)] for i in range(n)], m(pa.int64()))}), 'src/test/resources/kv/pyarrow-stash/part-0.parquet', row_group_size=30)"
    val dir = getClass.getResource("/kv/pyarrow-stash").getPath
    val st = Stash.open(spark, dir)
    assert(st.count() == 120)
    assert(st.get("p025").map(_.scalars("s")) === Some(12.5))
    assertGetsMatchScan(st)
  }

  test("open reads the schema from a footer: no Spark job") {
    val dir = tmp("km-open") + "/st"
    Stash.fromEntities(spark, mixed(20)).save(dir, buckets = 2)
    assert(jobsDuring(Stash.open(spark, dir)) === 0)
  }

  test("get on an opened store starts no Spark job; over the keymap budget it scans") {
    val dir = tmp("km-jobs") + "/st"
    Stash.fromEntities(spark, mixed(80)).save(dir, buckets = 8)
    val st = Stash.open(spark, dir)
    val keys = Seq("k0001", "k0040", "k0080", "absent")
    assert(jobsDuring(keys.foreach(st.get)) === 0)
    // a budget below the key column's bytes keeps the scan, same answers
    val scanned = Stash.open(spark, dir, keymapBudget = 0L)
    assert(jobsDuring(scanned.get("k0040")) > 0)
    keys.foreach(k => assert(scanned.get(k).map(canon) === st.get(k).map(canon), s"key $k"))
  }

  test("a data file rewritten in place after open is not answered from the old keymap") {
    import java.nio.file.{Paths, StandardCopyOption}
    val dir = tmp("km-rw") + "/st"
    val other = tmp("km-rw2") + "/st"
    Stash.fromEntities(spark, mixed(30)).save(dir, buckets = 1)
    // same keys but k0001 dropped and k0099 added, every value moved
    Stash.fromEntities(spark,
      mixed(30, tag = 5.0).drop(1) :+ Entity("k0099", scalars = Map("s" -> 99.0)))
      .save(other, buckets = 1)
    val st = Stash.open(spark, dir)
    assert(st.get("k0001").isDefined && st.get("k0099").isEmpty)
    def part(d: String) = new java.io.File(d).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq match {
        case Seq(f) => f
        case fs => fail(s"one data file expected in $d, got $fs")
      }
    val (from, to) = (part(other), part(dir))
    Files.copy(Paths.get(other, from), Paths.get(dir, to), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(other, s".$from.crc"), Paths.get(dir, s".$to.crc"),
      StandardCopyOption.REPLACE_EXISTING)
    val fresh = Stash.open(spark, dir).scan().collect().map(e => e.key -> canon(e)).toMap
    assert(fresh.contains("k0099") && !fresh.contains("k0001"))
    Seq("k0001", "k0002", "k0030", "k0099").foreach { k =>
      assert(st.get(k).map(canon) === fresh.get(k), s"key $k")
    }
  }

  test("remove then addAll re-inserts the key; addAll then remove deletes it") {
    import spark.implicits._
    val dir = tmp("km-ra") + "/st"
    Stash.fromEntities(spark, mixed(20)).save(dir, buckets = 2)
    val st = Stash.open(spark, dir)
    val back = st.remove("k0001").addAll(spark.createDataset(Seq(e("k0001", 42))))
    assert(back.get("k0001").map(_.tensors("x").toSeq) === Some(Seq(42.0)))
    assert(back.count() == 20)
    val gone = st.addAll(spark.createDataset(Seq(e("k0002", 7), e("new", 8)))).remove("k0002")
    assert(gone.get("k0002").isEmpty)
    assert(gone.get("new").isDefined)
    assert(gone.count() == 20)
    assert(!gone.keys.collect().map(_.getString(0)).contains("k0002"))
  }
}
