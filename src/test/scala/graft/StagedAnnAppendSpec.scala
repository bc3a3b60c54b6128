package graft

import graft.queries.Pipeline
import org.apache.spark.sql.functions._

/** Incremental append for the staged ANN index (r17 verdict item 2):
  * `stageAnnIndex` is train-once/static, so a grown embeddings table used
  * to force a full re-train + codes rewrite. `appendAnnIndex` PQ-encodes
  * only the NEW vectors against the committed quantizer into
  * `_delta/batch=N` dirs (the BatchStore discipline) and re-commits the
  * meta at the data's current fingerprint; `compactAnnIndex` merges back
  * to one cell-partitioned base.
  *
  * The equality pin: at the EXACTNESS operating point (probe all cells,
  * re-rank everything — q136's argument) probe results equal exact
  * brute-force REGARDLESS of which quantizer encoded which vector, so
  * "append K batches ≡ re-stage from scratch" is checkable even though
  * the two paths train on different vector sets.
  */
class StagedAnnAppendSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-annappend-$tag").toString

  private def writeEmb(dir: String, pred: Long => Boolean): Unit =
    Tables.embeddings(spark, sf0001)
      .filter(udf(pred).apply(col("vec_id")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def exactnessProbe(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val idx = Pipeline.appendAnnIndex(s, dir)
    Pipeline.annSearchStaged(s, dir, nprobe = idx.cells, rerank = Int.MaxValue)
      .collect().map(_.toString).toSeq
  }

  test("append K=2 batches == re-stage from scratch; no retraining; compaction is a pure layout move") {
    val a = freshDir("grow")
    val b = freshDir("full")
    // generation 1: two thirds of the corpus — train here, once
    writeEmb(a, id => id % 3 != 0)
    Pipeline.stageAnnIndex(spark, a)
    val trained = Pipeline.annTrainings.get

    // batch 1 appears (half the held-out third), then batch 2 (the rest)
    writeEmb(a, id => id % 3 != 0 || id % 6 == 0)
    Pipeline.appendAnnIndex(spark, a)
    writeEmb(a, _ => true)
    Pipeline.appendAnnIndex(spark, a)
    assert(Pipeline.annTrainings.get === trained,
      "append must never retrain the quantizer/codebook")
    assert(Pipeline.annDeltaBatchesFor(spark, a) === Seq(0L, 1L),
      "each append with new vectors commits one delta batch")
    // idempotency: same fingerprint again is a no-op (no batch 2)
    Pipeline.appendAnnIndex(spark, a)
    assert(Pipeline.annDeltaBatchesFor(spark, a) === Seq(0L, 1L))

    // the pin: appended index == scratch-staged index on the same data,
    // at the exactness point where quantizer differences cannot show
    writeEmb(b, _ => true)
    Pipeline.stageAnnIndex(spark, b)
    assert(Pipeline.annTrainings.get === trained + 1)
    val viaAppend = exactnessProbe(spark, a)
    val viaScratch = exactnessProbe(spark, b)
    assert(viaAppend === viaScratch,
      "append-grown index must answer exactly like a scratch-staged one")

    // the staged-probe plan contract holds WITH deltas: pruned scans,
    // no codes-side exchange (union adds none)
    val idx = Pipeline.appendAnnIndex(spark, a)
    val emb = Tables.embeddings(spark, a)
      .withColumn("nrm", graft.expressions.TextVecExprs.floatVecNorm(col("embedding")))
    val probe = Pipeline.ivfadcStagedProbe(spark, idx.codesPath, emb,
      emb.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        col("embedding").as("qv"), col("nrm").as("qn")),
      idx.cents, idx.cb, nprobe = 4, rerank = 50)
    probe.collect()
    val violations = Pipeline.ivfadcCodesGateViolations(
      probe.queryExecution.executedPlan.toString)
    assert(violations.isEmpty, violations.mkString("; "))

    // cold open AFTER append: a fresh session adopts the appended index
    // at the current fingerprint — training counter unmoved
    val s2 = spark.newSession()
    val viaCold = exactnessProbe(s2, a)
    assert(viaCold === viaAppend)
    assert(Pipeline.annTrainings.get === trained + 1,
      "cold-open of an appended index must adopt, not retrain")

    // compaction: results unchanged, deltas folded away, counter unmoved
    Pipeline.compactAnnIndex(spark, a)
    assert(Pipeline.annDeltaBatchesFor(spark, a) === Seq.empty)
    assert(exactnessProbe(spark, a) === viaAppend,
      "compaction must be a pure layout move")
    assert(Pipeline.annTrainings.get === trained + 1)
    // no-delete invariant (r18 review): s2 memoized the PRE-compaction
    // index at the same fingerprint — its eviction can never fire (fp
    // unchanged) — so the merged-away dir must remain readable
    assert(exactnessProbe(s2, a) === viaAppend,
      "a session holding the pre-compaction index must keep working")
  }

  test("versioned meta commits: a re-commit never un-commits the base; crash debris is skipped; GC keeps two") {
    val a = freshDir("metaver")
    writeEmb(a, id => id % 2 == 0)
    val idx = Pipeline.stageAnnIndex(spark, a)
    assert(Pipeline.annMetaVersionsFor(spark, idx.codesPath) === Seq(0L),
      "initial staging commits meta v0")

    // append flips the fingerprint → meta RE-commits as v1, v0 untouched:
    // at no instant is the dir uncommitted (the r18-advice crash window)
    writeEmb(a, id => id % 2 == 0 || id % 4 == 1)
    Pipeline.appendAnnIndex(spark, a)
    assert(Pipeline.annMetaVersionsFor(spark, idx.codesPath) === Seq(1L, 0L),
      "a meta re-commit lands as a NEW version next to the committed one")

    // a crashed re-commit (version dir without _SUCCESS) is invisible to
    // readers: a fresh session still adopts the committed v1
    val fs = new org.apache.hadoop.fs.Path(idx.codesPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${idx.codesPath}/_graft_meta_v99"))
    val before = Pipeline.annTrainings.get
    val s2 = spark.newSession()
    val adopted = Pipeline.appendAnnIndex(s2, a)
    assert(adopted.codesPath === idx.codesPath)
    assert(Pipeline.annTrainings.get === before,
      "crash-partial meta debris must not force a retrain")

    // third commit GCs the rest: only the newest two committed survive,
    // and the crash-partial v99 debris is reclaimed too (next version
    // counts past it — 100 — so a retry never lands inside a corpse)
    writeEmb(a, _ => true)
    Pipeline.appendAnnIndex(spark, a)
    assert(Pipeline.annMetaVersionsFor(spark, idx.codesPath) === Seq(100L, 1L),
      "meta GC keeps the newest two committed versions")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${idx.codesPath}/_graft_meta_v99")),
      "meta GC reclaims crash-partial version debris")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${idx.codesPath}/_graft_meta_v0")),
      "meta GC drops committed versions older than the newest two")
  }

  test("retirement protocol: compaction tombstones the merged-away dir; grace 0 reclaims it; unexpired grace preserves it") {
    // --- grace 0: disk reclaimed within the generation, adoption flips ---
    val a = freshDir("retire0")
    writeEmb(a, id => id % 2 == 0)
    Pipeline.stageAnnIndex(spark, a)
    writeEmb(a, _ => true)
    Pipeline.appendAnnIndex(spark, a)
    assert(Pipeline.annDirs.names(spark, a).size === 1)
    val merged = Pipeline.compactAnnIndex(spark, a, retireGraceMs = 0L)
    val mergedName = new org.apache.hadoop.fs.Path(merged.codesPath).getName
    assert(Pipeline.annDirs.names(spark, a) === Seq(mergedName),
      "grace 0: the tombstoned dir is reclaimed by compaction's own sweep")
    assert(Pipeline.annRetiredDirsFor(spark, a) === Seq.empty)

    // --- unexpired grace: tombstoned but PRESENT; adopters skip it ---
    val b = freshDir("retireG")
    writeEmb(b, id => id % 2 == 0)
    Pipeline.stageAnnIndex(spark, b)
    writeEmb(b, _ => true)
    Pipeline.appendAnnIndex(spark, b)
    val oldB = Pipeline.annDirs.names(spark, b)
    val mergedB = Pipeline.compactAnnIndex(spark, b, retireGraceMs = Long.MaxValue)
    val mergedBName = new org.apache.hadoop.fs.Path(mergedB.codesPath).getName
    assert(Pipeline.annDirs.names(spark, b).toSet === (oldB :+ mergedBName).toSet,
      "unexpired grace: the merged-away dir must survive (another process may hold it)")
    assert(Pipeline.annRetiredDirsFor(spark, b) === Seq((oldB.head, mergedBName)),
      "the tombstone names the merged successor")
    // a concurrent adopter (fresh session, cold open) flips to the merged
    // base: tombstoned dirs are never adoption candidates
    val before = Pipeline.annTrainings.get
    val s2 = spark.newSession()
    val adopted = Pipeline.appendAnnIndex(s2, b)
    assert(new org.apache.hadoop.fs.Path(adopted.codesPath).getName === mergedBName,
      "adoption must skip the tombstoned dir and pick the merged base")
    assert(Pipeline.annTrainings.get === before)
    // a staging-time sweep before the grace elapses must NOT reclaim it
    Pipeline.stageAnnIndex(s2, b)
    assert(Pipeline.annDirs.names(spark, b).size === 2,
      "sweep honors the tombstone's own grace period")
  }

  test("append refuses a shrunken table (append-only contract); no-base append refuses") {
    val a = freshDir("shrink")
    writeEmb(a, _ => true)
    Pipeline.stageAnnIndex(spark, a)
    writeEmb(a, id => id % 2 == 0) // ids vanished: the index cannot unsee them
    val e = intercept[IllegalStateException](Pipeline.appendAnnIndex(spark, a))
    assert(e.getMessage.contains("append-only"), e.getMessage)

    val empty = freshDir("nobase")
    writeEmb(empty, _ => true)
    val e2 = intercept[IllegalStateException](Pipeline.appendAnnIndex(spark, empty))
    assert(e2.getMessage.contains("stageAnnIndex"), e2.getMessage)
  }
}
