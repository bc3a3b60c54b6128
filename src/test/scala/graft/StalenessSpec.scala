package graft

import graft.queries.Pipeline
import org.apache.spark.sql.functions._

/** Memo staleness guards (r15 verdict item 3): every pay-once memo keys
  * on a [[Fingerprint]] of its source files, so a dir regenerated IN
  * PLACE mid-session observably serves fresh results on the next call —
  * the one failure mode the old (session, dir) keys could not see.
  */
class StalenessSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-stale-$tag").toString

  /** A private copy of the sf0.001 tables: a distinct dir is a distinct
    * memo identity, so nothing an earlier spec cached can mask staleness.
    */
  private def sf0001Copy(tag: String): String = {
    val dir = tmpDir(tag)
    for (t <- Tables.names)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf0001/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    dir
  }

  /** Rewrite `table` in place with `f` applied — collected first, so the
    * overwrite never reads the path it replaces.
    */
  private def rewrite(dir: String, table: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val df = f(spark.read.parquet(s"$dir/$table.parquet"))
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq

  test("Fingerprint: rewrite changes it, absence is distinct, key composes per file") {
    import spark.implicits._
    val dir = tmpDir("fp")
    assert(Fingerprint.of(spark, s"$dir/nope.parquet") === "absent")
    Seq(1).toDF("x").write.parquet(s"$dir/t.parquet")
    val f1 = Fingerprint.of(spark, s"$dir/t.parquet")
    assert(f1 !== "absent")
    assert(Fingerprint.of(spark, s"$dir/t.parquet") === f1, "stable between writes")
    Seq(1, 2).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Fingerprint.of(spark, s"$dir/t.parquet") !== f1, "rewrite must change it")
    // key(): dir plus per-file fingerprints; a second source file changes it
    val k1 = Fingerprint.key(spark, dir, "t.parquet")
    assert(k1.startsWith(s"$dir@"))
    Seq(3).toDF("y").write.parquet(s"$dir/u.parquet")
    assert(Fingerprint.key(spark, dir, "t.parquet") === k1,
      "per-file key must ignore unrelated files")
    assert(Fingerprint.key(spark, dir) !== Fingerprint.key(spark, dir, "t.parquet"))
    // branch parity (r17): the java.nio local fast path must digest
    // byte-identically to the Hadoop-FileSystem branch — committed
    // artifacts (staged ANN meta) store the digest, and a format drift
    // between branches would silently re-train every committed index on
    // the first post-upgrade open
    for (p <- Seq(dir, s"$dir/t.parquet", s"$dir/u.parquet")) {
      assert(Fingerprint.of(spark, p) ===
        Fingerprint.ofHadoop(spark, new org.apache.hadoop.fs.Path(p)),
        s"nio and Hadoop digests diverge for $p")
    }
    // symlink parity (r18 advice): Hadoop's RawLocalFileSystem recursion
    // follows symlinked directories (java.io.File semantics), so the nio
    // walk must FOLLOW_LINKS too — a linked subdir digesting differently
    // across branches is exactly the committed-artifact format drift the
    // parity contract exists to prevent
    val real = tmpDir("fp-real")
    Seq(9).toDF("z").write.parquet(s"$real/z.parquet")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$dir/linked"), java.nio.file.Paths.get(real))
    assert(Fingerprint.of(spark, dir) ===
      Fingerprint.ofHadoop(spark, new org.apache.hadoop.fs.Path(dir)),
      "nio and Hadoop digests diverge on a symlinked subdir")
  }

  test("Tables.load re-reads a table regenerated in place mid-session") {
    import spark.implicits._
    val dir = tmpDir("load")
    Seq((1L, "v1")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val a = Tables.load(spark, dir, "orders").collect().map(_.getString(1)).toSeq
    assert(a === Seq("v1"))
    Seq((1L, "v2"), (2L, "v2")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val b = Tables.load(spark, dir, "orders").collect().map(_.getString(1)).toSeq
    assert(b === Seq("v2", "v2"),
      "regenerated file must be re-read, not served from the memoized frame")
    // eviction (r16 advice): regenerations must not strand superseded
    // entries — one live generation per (session, path), ever
    Seq((1L, "v3")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Tables.load(spark, dir, "orders").collect()
    assert(Tables.memo.entriesFor(spark)(_ == s"$dir/orders.parquet") === 1,
      "superseded generations must be evicted from the Tables memo")
  }

  test("ColumnarScan.inputCached rebuilds when the dir's fingerprint changes") {
    import spark.implicits._
    val dir = tmpDir("scan")
    Seq(1).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    var builds = 0
    def cached() = graft.operators.ColumnarScan.inputCached(spark, dir, "stale-spec") {
      builds += 1; spark.read.parquet(s"$dir/t.parquet")
    }
    cached(); cached()
    assert(builds === 1, "same generation: the prepared plan is built once")
    Seq(2).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val f = cached()
    assert(builds === 2, "regeneration must rebuild the prepared plan")
    assert(f.collect().map(_.getInt(0)).toSeq === Seq(2))
    assert(graft.operators.ColumnarScan.inputMemo.entriesFor(spark)(_ == ((dir, "stale-spec"))) === 1,
      "superseded generations must be evicted from the prepared-scan memo")
  }

  test("q144 merge-table memo retrains on a regenerated corpus (not a stale table)") {
    import spark.implicits._
    val dir = tmpDir("bpe")
    def writeDocs(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // generation 1: merges learned from an 'a'-heavy corpus
    writeDocs(Seq((1L, "s", "aa ab aa"), (2L, "s", "ab aa")))
    Pipeline.q144(spark, dir, merges = 2).collect()
    // generation 2: 'zz' corpus — ITS OWN table merges (z,z), so each
    // word encodes to ONE symbol (sum_bpe = 3); a stale gen-1 table has
    // no z-merge and would leave 2 symbols per word (sum_bpe = 6)
    writeDocs(Seq((3L, "s", "zz zz zz")))
    val out = Pipeline.q144(spark, dir, merges = 2).collect()
    assert(out.map(_.getLong(4)).sum === 3L,
      "regenerated corpus must be re-trained, not encoded with the stale table")
    assert(Pipeline.learnedMerges.entriesFor(spark)(_._1 == dir) === 1,
      "superseded generations must be evicted from the merge-table memo")
  }

  test("q140 shard root goes fresh on a regenerated corpus") {
    import spark.implicits._
    val dir = tmpDir("shards")
    def writeDocs(n: Int): Unit =
      (1 to n).map(i => (i.toLong, s"doc $i text")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(2)
    assert(Pipeline.q140(spark, dir).collect().map(_.getLong(1)).sum === 2L)
    writeDocs(5)
    assert(Pipeline.q140(spark, dir).collect().map(_.getLong(1)).sum === 5L,
      "the committed-version no-op must not serve the previous generation")
    assert(Pipeline.stagedShardRoots.entriesFor(spark)(_._1 == dir) === 1,
      "the superseded generation's shard root must be evicted (and deleted)")
  }

  test("staged video corpus goes fresh on a regenerated corpus, old root evicted") {
    import spark.implicits._
    val dir = tmpDir("videos")
    def writeDocs(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(Seq((1L, "s", "aaa"), (2L, "s", "bb")))
    val g1 = Pipeline.q148(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(g1 === Seq(1L, 2L))
    // regenerate: different docs must flow through a FRESH container
    // staging (not the previous generation's materialized videos)
    writeDocs(Seq((7L, "s", "zzzz")))
    val g2 = Pipeline.q148(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(g2 === Seq(7L),
      "regenerated corpus must re-stage the video containers")
    assert(Pipeline.stagedVideos.entriesFor(spark)(_ == dir) === 1,
      "the superseded generation's video root must be evicted")
  }

  test("q153 packed root goes fresh on a regenerated corpus") {
    import spark.implicits._
    val dir = tmpDir("packed")
    def writeDocs(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(Seq((1L, "s", "a b c"), (2L, "s", "d e")))
    assert(Pipeline.q153(spark, dir).collect().map(_.getLong(2)).sum === 2L)
    writeDocs(Seq((7L, "s", "x"), (8L, "s", "y"), (9L, "s", "z")))
    assert(Pipeline.q153(spark, dir).collect().map(_.getLong(2)).sum === 3L,
      "the committed-version no-op must not serve the previous generation")
    assert(Pipeline.stagedPacked.entriesFor(spark)(_._1 == dir) === 1,
      "the superseded generation's packed root must be evicted")
    assert(Pipeline.packedDirs.names(spark, dir).size === 1,
      "the superseded generation's warehouse dir must be swept by the re-staging")
  }

  test("packed corpus commits to the warehouse; a later session cold-opens it; seqLen is part of the layout identity") {
    import spark.implicits._
    val dir = tmpDir("packed-commit")
    Seq((1L, "s", "a b c d e"), (2L, "s", "f g"), (3L, "s", "h i j"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n0 = Pipeline.packedStagings.get
    val viaStage = Pipeline.q153(spark, dir).collect()
    assert(Pipeline.packedStagings.get === n0 + 1)
    assert(Pipeline.packedDirs.names(spark, dir).size === 1,
      "staging must leave one committed corpus under the warehouse")
    Pipeline.q153(spark, dir).collect()
    assert(Pipeline.packedStagings.get === n0 + 1, "same session: memoized, no re-pack")
    // cold open: a fresh session (fresh memo key, same warehouse) ADOPTS
    val s2 = spark.newSession()
    val viaAdopt = Pipeline.q153(s2, dir).collect()
    assert(Pipeline.packedStagings.get === n0 + 1,
      "cold open must adopt the committed corpus, not re-pack")
    assert(viaAdopt.map(_.toString).toSeq === viaStage.map(_.toString).toSeq)
    // r18 advice: a second seqLen on the SAME corpus must get its own
    // committed layout, never the first seqLen's no-op — and each must
    // equal its direct (q152) assembly
    val at4 = Pipeline.q153(spark, dir, seqLen = 4L).collect()
    assert(Pipeline.packedStagings.get === n0 + 2, "a new seqLen is a new layout")
    assert(Pipeline.packedDirs.names(spark, dir).size === 2)
    assert(at4.map(_.toString).toSeq !== viaStage.map(_.toString).toSeq,
      "seqLen 4 must actually pack differently on this corpus")
    val want4 = Pipeline.q152(spark, dir, seqLen = 4L)
      .select("shard", "seq", "n_docs", "n_tok", "digest").collect()
    assert(at4.map(_.toString).toSeq === want4.map(_.toString).toSeq,
      "read-back at seqLen 4 must equal the direct assembly at seqLen 4")
    // and the original seqLen still serves ITS corpus (no cross-serving)
    assert(Pipeline.q153(spark, dir).collect().map(_.toString).toSeq ===
      viaStage.map(_.toString).toSeq)
    assert(Pipeline.packedStagings.get === n0 + 2)
  }

  test("packed corpus crash debris is reclaimed by the next staging (no machine-lifetime leak)") {
    import spark.implicits._
    val dir = tmpDir("packed-debris")
    def writeDocs(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(Seq((1L, "s", "a b"), (2L, "s", "c")))
    Pipeline.q153(spark, dir).collect()
    val committed = Pipeline.packedDirs.names(spark, dir)
    assert(committed.size === 1)
    // fabricate an UNCOMMITTED own-tag sibling — the shape of a staging
    // that died after creating its directory, before the _SUCCESS commit
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val debris = committed.head.dropRight(8) + "00000000"
    val dPath = java.nio.file.Paths.get(wh, debris)
    java.nio.file.Files.createDirectories(dPath)
    java.nio.file.Files.writeString(dPath.resolve("part-junk.parquet"), "x")
    assert(Pipeline.packedDirs.names(spark, dir).size === 2)
    // regenerate: the re-staging's sweep reclaims BOTH the uncommitted
    // debris and the superseded committed generation
    writeDocs(Seq((7L, "s", "x y z")))
    Pipeline.q153(spark, dir).collect()
    assert(Pipeline.packedDirs.names(spark, dir).size === 1,
      "crash debris and the stale generation must both be swept")
  }

  test("staged video corpus commits to the warehouse; a later session cold-opens it") {
    import spark.implicits._
    val dir = tmpDir("videos-commit")
    Seq((1L, "s", "aaa"), (2L, "s", "bb")).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n0 = Pipeline.videoStagings.get
    val viaStage = Pipeline.q148(spark, dir).collect()
    assert(Pipeline.videoStagings.get === n0 + 1)
    assert(Pipeline.videoDirs.committed(spark, dir).size === 1,
      "staging must leave one committed corpus under the warehouse")
    Pipeline.q148(spark, dir).collect()
    assert(Pipeline.videoStagings.get === n0 + 1, "same session: memoized, no re-synthesis")
    // cold open: a session with no memo entry (stands in for a fresh JVM —
    // same warehouse, fresh memo key) must ADOPT the committed corpus
    val s2 = spark.newSession()
    val viaAdopt = Pipeline.q148(s2, dir).collect()
    assert(Pipeline.videoStagings.get === n0 + 1,
      "cold open must adopt the committed corpus, not re-synthesize")
    assert(viaAdopt.map(_.toString).toSeq === viaStage.map(_.toString).toSeq)
  }

  test("video staging crash debris is reclaimed by the next staging (no machine-lifetime leak)") {
    import spark.implicits._
    val dir = tmpDir("videos-debris")
    // negative doc_id → width 4 + (-5 % 13) = -1 → BufferedImage throws
    // MID-WRITE, after the output directory exists: exactly the r17 leak
    // shape (a staging that died after creating its directory)
    Seq((-5L, "s", "boom")).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    intercept[Exception](Pipeline.q148(spark, dir).collect())
    // regenerate with a valid corpus; the re-stage's sweep must reclaim
    // the uncommitted debris, leaving exactly the one committed corpus
    Seq((3L, "s", "ok doc")).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Pipeline.q148(spark, dir).collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(Pipeline.videoDirs.names(spark, dir).size === 1,
      "crash debris (uncommitted dir) must be swept by the next staging")
  }

  test("a FAILED staging never reads as staged (probes count completed cells only)") {
    val dir = tmpDir("fail") // exists, but holds no parquet: stagings throw
    // ANN: the thrown staging's cell must be evicted and the probe stay
    // cold — otherwise the dispatcher's staged form would re-run a full
    // training implicitly on every q16 dispatch (r16 review)
    intercept[Exception] { Pipeline.stageAnnIndex(spark, dir) }
    assert(!Pipeline.isAnnIndexStaged(spark, dir),
      "failed ANN staging must not satisfy the dispatcher probe")
    intercept[Exception] { Pipeline.stageAnnIndex(spark, dir) } // clean retry
    // Layouts: same contract for the bucketed-table probes
    intercept[Exception] { Layouts.eventsByUserCached(spark, dir, buckets = 2) }
    assert(!Layouts.isEventsLayoutStaged(spark, dir),
      "failed events staging must not satisfy the dispatcher probe")
  }

  test("staged events layout probe goes cold when the source regenerates") {
    import spark.implicits._
    val dir = tmpDir("layout")
    // minimal events shape the staging needs
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10L),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 11L))
      .toDF("user_id", "ts", "event_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Layouts.eventsByUserCached(spark, dir, buckets = 2)
    assert(Layouts.isEventsLayoutStaged(spark, dir))
    // regenerate: the probe must go cold (the dispatcher then uses the
    // declarative form instead of a bucketed table built from old data)
    Seq((2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 20L))
      .toDF("user_id", "ts", "event_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(!Layouts.isEventsLayoutStaged(spark, dir),
      "a regenerated source must not count as staged")
    // an explicit re-stage serves the NEW generation
    val re = Layouts.eventsByUserCached(spark, dir, buckets = 2)
    assert(re.select("user_id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(Layouts.eventsLayout.memo.entriesFor(spark)(_._1 == dir) === 1,
      "the superseded generation's staged-events cell must be evicted")
  }

  test("Exec q2 kernel rebuilds its dimension map after nation.parquet is rewritten in place") {
    val dir = sf0001Copy("q2")
    assert(Exec.runNamed(spark, dir, "q2")._1 === "q2ColumnarKernel")
    rewrite(dir, "nation")(_.withColumn("n_name", concat(lit("X_"), col("n_name"))))
    val (form, got) = Exec.runNamed(spark, dir, "q2")
    assert(form === "q2ColumnarKernel")
    val want = rowsOf(graft.queries.Relational.q2(spark, dir))
    assert(want.nonEmpty && want.forall(_.getString(0).startsWith("X_")))
    assert(rowsOf(got) === want, "the kernel must not probe the stale nation map")
    assert(graft.queries.Relational.buildCache.entriesFor(spark)(_ == ((dir, "q2oknation"))) === 1)
  }

  test("Exec q16 kernel re-reads its query vectors after embeddings.parquet is rewritten in place") {
    val dir = sf0001Copy("q16")
    assert(Exec.runNamed(spark, dir, "q16")._1 === "q16ColumnarKernel")
    // reverse the query-side vectors only: the corpus side is unchanged,
    // so a stale query cache scores the new corpus with the old queries
    rewrite(dir, "embeddings")(_.withColumn("embedding",
      when(col("vec_id") < 10, reverse(col("embedding"))).otherwise(col("embedding"))))
    val (form, got) = Exec.runNamed(spark, dir, "q16")
    assert(form === "q16ColumnarKernel")
    assert(rowsOf(got) === rowsOf(graft.queries.TextVec.q16(spark, dir)),
      "the kernel must not score with the stale query vectors")
    assert(graft.queries.TextVec.q16QueryCache.entriesFor(spark)(_ == dir) === 1)
  }

  test("Exec q3/q4 kernels rebuild their orders maps after orders.parquet is rewritten in place") {
    val dir = sf0001Copy("q3q4")
    assert(Exec.runNamed(spark, dir, "q3")._1 === "q3ColumnarKernel")
    assert(Exec.runNamed(spark, dir, "q4")._1 === "q4ColumnarKernel")
    // keep a third of the orders: fewer band matches for q3, fewer
    // ordering customers for q4
    rewrite(dir, "orders")(_.filter(col("o_orderkey") % 3 === 0))
    for (q <- Seq("q3", "q4")) {
      val (form, got) = Exec.runNamed(spark, dir, q)
      assert(form === s"${q}ColumnarKernel")
      assert(rowsOf(got) === rowsOf(Exec.registry(q).last.run(spark, dir)),
        s"$q must not probe the stale orders map")
    }
    for (tag <- Seq("q3band", "q4members"))
      assert(graft.queries.Relational.buildCache.entriesFor(spark)(_ == ((dir, tag))) === 1)
  }
}
