package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-readable verdicts for the declared-no-oracle queries.
  *
  * CORRECTNESS_r*.json shows `err:"no_oracle"` for q9b/q12s/q27/q29/q38/
  * q76/q86/q87/q88/q90 — correct by contract (sketches, stream-only
  * operators, ANN and iterative training are legitimately not
  * hash-matchable against DuckDB), but the tolerance / recall /
  * equivalence evidence lived only in ScalaTest, invisible to anyone
  * reading the driver artifacts alone (r9 verdict gap #1). This object
  * re-runs EXACTLY the spec checks (same thresholds, same machinery)
  * inside the Verify pass and emits one JSON object per query to
  * `<outDir>/spec_checks.json` — and to `tools/spec_checks_latest.json`
  * when Verify runs from the repo root (a `tools/` dir in the working
  * directory) — so the no-oracle rows carry machine-readable pass/fail at
  * HEAD.
  *
  * Thresholds mirror the specs: q9b ±5% of exact (SURVEY §2.2 row 17);
  * q12s batch == stream-operator count; q27 hamming ≤ 3 and ⊇ exact dups;
  * q29 recall@5 ≥ 0.4 (SRP-LSH, isotropic corpus); q38 recall ≥ 0.75 AND
  * full-probe == exact (losslessness); q86 recall ≥ 0.75 AND full-rerank ==
  * exact (the PQ analogue); q88 recall ≥ 0.75 AND full-probe+full-rerank ==
  * exact; q87 census == the brute-pairs-restricted-to-cells reference;
  * q90 strictly-decreasing loss AND accuracy above the majority class;
  * q76 inside the exact ±0.01-quantile envelope.
  */
object SpecChecks {

  def run(spark: SparkSession, dir: String): String = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    def guarded(name: String)(body: => String): Unit =
      out(name) = try body catch {
        case e: Throwable => s"""{"pass":false,"err":"${e.getMessage.take(200).replace("\"", "'")}"}"""
      }

    guarded("q9b_approx_distinct") {
      val exact = queries.Events.q9a(spark, dir).head().getLong(0)
      val approx = queries.Events.q9b(spark, dir).head().getLong(0)
      val rel = math.abs(approx - exact).toDouble / exact
      s"""{"check":"|approx-exact|/exact <= 0.05","exact":$exact,"approx":$approx,"rel_err":${num(rel)},"pass":${rel <= 0.05}}"""
    }

    guarded("q12s_session_window") {
      val batch = queries.Events.q12(spark, dir).head().getLong(0)
      val stream = queries.Events.q12s(spark, dir).head().getLong(0)
      s"""{"check":"session_window count == batch lag/cumsum count","batch":$batch,"stream_op":$stream,"pass":${batch == stream}}"""
    }

    guarded("q27_simhash_pairs") {
      val pairs = queries.Pipeline.q27(spark, dir).collect()
      val maxHam = if (pairs.isEmpty) 0 else pairs.map(_.getInt(2)).max
      val exactDups = queries.TextVec.q15(spark, dir).filter(col("j") === 1.0)
        .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      val incl = exactDups.subsetOf(found)
      s"""{"check":"all hamming <= 3 AND pairs include q15 exact dups","n_pairs":${pairs.length},"max_hamming":$maxHam,"n_exact_dups":${exactDups.size},"exact_dups_included":$incl,"pass":${maxHam <= 3 && incl}}"""
    }

    // exact top-5 rows/neighbor set, shared by every ANN check (computed once)
    lazy val exactRows = queries.TextVec.q16(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    lazy val exactTop5 = exactRows.map(t => (t._1, t._2)).toSet

    guarded("q29_ann_lsh") {
      val ann = queries.Pipeline.q29(spark, dir).select("qid", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactTop5 & ann).size.toDouble / exactTop5.size
      s"""{"check":"recall@5 vs exact q16 >= 0.4","recall":${num(recall)},"pass":${recall >= 0.4}}"""
    }

    guarded("q38_ann_ivf") {
      val ann = queries.Pipeline.q38(spark, dir).select("qid", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactTop5 & ann).size.toDouble / exactTop5.size
      val fullProbe = queries.Pipeline.ivfAnn(spark, dir, nprobe = 16).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val lossless = fullProbe == exactRows
      s"""{"check":"recall@5 >= 0.75 AND nprobe=16 full probe == exact q16","recall":${num(recall)},"full_probe_equals_exact":$lossless,"pass":${recall >= 0.75 && lossless}}"""
    }

    guarded("q86_ann_pq") {
      val ann = queries.Pipeline.q86(spark, dir).select("qid", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactTop5 & ann).size.toDouble / exactTop5.size
      val fullRerank = queries.Pipeline.pqAnn(spark, dir, rerank = 100000).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val lossless = fullRerank == exactRows
      s"""{"check":"recall@5 >= 0.75 AND full rerank == exact q16","recall":${num(recall)},"full_rerank_equals_exact":$lossless,"pass":${recall >= 0.75 && lossless}}"""
    }

    guarded("q88_ann_ivfadc") {
      val ann = queries.Pipeline.q88(spark, dir).select("qid", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactTop5 & ann).size.toDouble / exactTop5.size
      val full = queries.Pipeline.ivfadcAnn(spark, dir, nprobe = 16, rerank = 100000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val lossless = full == exactRows
      s"""{"check":"recall@5 >= 0.75 AND full probe+rerank == exact q16","recall":${num(recall)},"full_equals_exact":$lossless,"pass":${recall >= 0.75 && lossless}}"""
    }

    guarded("q87_semdedup") {
      import org.apache.spark.sql.functions.element_at
      val emb = Tables.embeddings(spark, dir)
      val cents = queries.Pipeline.ivfTrain(
        emb.withColumn("nrm", graft.expressions.TextVecExprs.floatVecNorm(col("embedding"))))
      val cellOf = emb.withColumn("cell",
          element_at(graft.expressions.PipelineExprs.ivfProbes(col("embedding"), cents, 1), 1))
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val pairs = queries.Pipeline.q36(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val droppedRef = pairs.collect {
        case (a, b) if cellOf(a) == cellOf(b) => math.max(a, b)
      }.toSet
      val expect = cellOf.groupBy(_._2).map { case (cell, xs) =>
        cell -> ((xs.size.toLong, xs.keys.count(droppedRef).toLong))
      }
      val got = queries.Pipeline.q87(spark, dir).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val eq = got == expect
      s"""{"check":"census == brute-pairs-restricted-to-cells reference","cells":${got.size},"n_dropped":${got.values.map(_._2).sum},"pass":$eq}"""
    }

    guarded("q90_lr_quality") {
      // Accuracy comes from the REGISTERED q90's own census output (so a
      // q90 aggregation bug fails this artifact, and only |sources| rows
      // reach the driver); the loss history comes from one lrTrain at
      // q90's exact defaults — training is layout-deterministic, so it is
      // the same model q90 reports on. Monotonicity is checked to the
      // 1e-6 fixed-point quantization bound (a sub-quantum late-iteration
      // decrease must not flip the gate) plus a required net decrease.
      val docs = Tables.documents(spark, dir)
      val label = length(col("text")) >= 250
      val (_, _, losses) = queries.Pipeline.lrTrain(docs, label)
      val monotone = losses.sliding(2).forall { case Array(a, b2) => b2 < a + 1e-6 } &&
        losses.last < losses.head
      val out = queries.Pipeline.q90(spark, dir).collect()
        .map(r => (r.getLong(1), r.getLong(3)))
      val nTot = out.map(_._1).sum
      val nCorrect = out.map(_._2).sum
      val nPos = docs.filter(label).count()
      val majority = math.max(nPos, nTot - nPos).toDouble / nTot
      val acc = nCorrect.toDouble / nTot
      s"""{"check":"loss decreases (1e-6 tolerance, net) AND q90's census accuracy beats the majority class","monotone_loss":$monotone,"accuracy":${num(acc)},"majority":${num(majority)},"pass":${monotone && acc > majority}}"""
    }

    guarded("q76_approx_pctile") {
      val env = Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"), col("l_quantity").as("v"))
        .agg(count(lit(1)).as("f"))
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("v"), lit(0.49), col("f")).as("lo50"),
          percentile(col("v"), lit(0.51), col("f")).as("hi50"),
          percentile(col("v"), lit(0.89), col("f")).as("lo90"),
          percentile(col("v"), lit(0.91), col("f")).as("hi90"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      val approx = queries.Relational.q76(spark, dir).collect()
      // violation = how far outside the ±0.01-quantile value envelope an
      // approx percentile lands; 0 means inside (the G-K guarantee with
      // accuracy 10 000 puts rank error <= n/10 000, far inside the band)
      val viol = approx.flatMap { r =>
        val (lo50, hi50, lo90, hi90) = env(r.getString(0))
        Seq(
          math.max(0.0, math.max(lo50 - r.getDouble(1), r.getDouble(1) - hi50)),
          math.max(0.0, math.max(lo90 - r.getDouble(2), r.getDouble(2) - hi90)))
      }
      val worst = if (viol.isEmpty) 0.0 else viol.max
      s"""{"check":"approx p50/p90 inside exact [p-0.01, p+0.01] value envelope","groups":${approx.length},"max_envelope_violation":${num(worst)},"pass":${approx.nonEmpty && worst == 0.0}}"""
    }

    guarded("q145_bpe_train256") {
      // the 256-merge incremental table's first 12 rows must equal q142's
      // table (greedy BPE is prefix-stable in depth), and q142 itself is
      // reference-trainer-gated — so this check chains q145 to the same
      // independent reference without rerunning a 256-round reference
      // trainer inside the verify pass
      def tbl(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val full = tbl(queries.Pipeline.bpeTrain(spark, dir, merges = 256))
      val twelve = tbl(queries.Pipeline.q142(spark, dir, merges = 12))
      val prefixOk = full.take(12) == twelve
      s"""{"check":"first 12 of the 256-merge incremental table == q142's reference-gated table","n_merges":${full.size},"prefix_equals_q142":$prefixOk,"pass":${prefixOk && full.size > 12}}"""
    }

    guarded("q146_bpe_distributed") {
      // the forced-distributed table must equal the driver-path table at
      // the same depth; the driver path is itself chained to the
      // independent reference (q145's check + PipelineSpec)
      def tbl(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val dist = tbl(queries.Pipeline.bpeTrain(spark, dir, merges = 24, maxDriverVocab = 0L))
      val drv = tbl(queries.Pipeline.bpeTrain(spark, dir, merges = 24))
      val eq = dist == drv
      s"""{"check":"forced-distributed (maxDriverVocab=0) merge table == driver-path table at merges=24","n_merges":${dist.size},"equals_driver_path":$eq,"pass":${eq && dist.nonEmpty}}"""
    }

    guarded("q156_bestfit_packing") {
      // the q150 discipline applied to best-fit: a DRIVER-SIDE reference
      // replay of the same BFD rule over the collected (shard, eff)
      // lists must reproduce the census exactly, and the corpus
      // accounting (docs, effective tokens, truncations) must equal
      // q150's — those are order invariants. The waste comparison vs
      // q150 is reported for the reader but NOT gated: BFD has no
      // per-instance dominance theorem over first-fit-in-order, and the
      // driver regenerates this corpus every round.
      val seqLen = 512L
      val input = Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("skey", graft.queries.Pipeline.shuffleKey(col("doc_id")))
        .withColumn("shard", pmod(col("skey"), lit(8L)))
        .select("shard", "n_tok", "skey", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val ref = input.groupBy(_._1).map { case (shard, docs) =>
        val ordered = docs.sortBy(d => (-d._2, d._3, d._4)) // the engine's sort
        var bins = List.empty[Long] // remaining capacity per open bin
        var tokEff = 0L; var nTrunc = 0L
        ordered.foreach { case (_, nTok, _, _) =>
          val eff = math.min(nTok, seqLen)
          if (nTok > seqLen) nTrunc += 1
          tokEff += eff
          val fits = bins.filter(_ >= eff)
          if (fits.isEmpty) bins = (seqLen - eff) :: bins
          else {
            val best = fits.min // tightest open bin
            val i = bins.indexOf(best)
            bins = bins.updated(i, best - eff)
          }
        }
        shard -> ((docs.length.toLong, bins.length.toLong, tokEff,
          bins.length * seqLen - tokEff, nTrunc))
      }
      val got = queries.Pipeline.q156(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))).toMap
      val replayOk = got == ref
      def sums(df: org.apache.spark.sql.DataFrame, wasteCol: String) = df
        .agg(sum("n_docs"), sum("tok_eff"), sum("n_trunc"), sum(wasteCol))
        .head match { case r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) }
      val (bfDocs, bfTok, bfTr, bfWaste) =
        sums(queries.Pipeline.q156(spark, dir), "pad_waste")
      val (ffDocs, ffTok, ffTr, ffWaste) =
        sums(queries.Pipeline.q150(spark, dir), "pad_waste")
      val invariant = bfDocs == ffDocs && bfTok == ffTok && bfTr == ffTr
      s"""{"check":"census == driver BFD replay AND totals == q150 (waste vs q150 informational)","replay_equal":$replayOk,"totals_invariant":$invariant,"bf_waste":$bfWaste,"ff_waste":$ffWaste,"pass":${replayOk && invariant}}"""
    }

    val allPass = out.values.forall(_.contains("\"pass\":true"))
    val body = out.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"sf_dir":"$dir","all_pass":$allPass,"checks":{$body}}"""
  }

  /** Run and persist to the Verify outDir, and to the repo artifact when
    * the working directory already has a `tools/` dir (the repo root) —
    * started anywhere else, Verify creates no `tools/` there.
    */
  def writeArtifacts(spark: SparkSession, dir: String, outDir: String): Unit = {
    val json = run(spark, dir)
    val inRepoRoot = java.nio.file.Files.isDirectory(java.nio.file.Paths.get("tools"))
    val targets = Seq(s"$outDir/spec_checks.json") ++
      Option.when(inRepoRoot)("tools/spec_checks_latest.json")
    val written = targets.filter { p =>
      scala.util.Try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(path, json + "\n")
      }.isSuccess
    }
    System.err.println(s"[verify] spec checks -> ${written.mkString(" and ")}")
  }
}
