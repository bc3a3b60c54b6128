package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 14 shipped an EMPTY external correctness artifact
  * (the engine passed 129/129 locally; the driver-side run produced
  * nothing). Failure-ordering rules this main now guarantees:
  *
  *  1. `oracle_sql.json` is written FIRST, before a SparkSession exists —
  *     it is pure data (`SparkEntry.oracleSql` is a literal Map), so even
  *     a session-creation failure leaves the oracle text on disk.
  *  2. Per-query results were always incremental (one parquet dir per
  *     query); `progress.jsonl` now records one line per query (ok/failed
  *     + wall seconds) as it completes, so a mid-run crash is diagnosable
  *     from the artifact alone.
  *  3. Any throw outside the per-query loop lands in `verify_error.txt`
  *     in outDir — the artifact can be empty of results but never silent.
  *  4. The session is [[Session.local]], so it carries the engine's
  *     contract confs, the in-memory catalog among them: with Hive jars on
  *     the classpath, a hive catalog boots embedded Derby in user.dir, and
  *     Derby allows ONE JVM — a concurrent graft process (or a lingering
  *     shell) would kill getOrCreate before any query ran.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset — local dev only]
    val sfDir = args(0)
    val outDir = args(1)
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // (1) oracle text first — needs no Spark, survives any later failure.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Registry manifest, also pre-Spark: the r14 failure mode was an EMPTY
    // correctness artifact that read as "nothing to grade" instead of
    // "harness crashed". This records how many entries a complete run MUST
    // produce, so any artifact with fewer result dirs than registry_size
    // is machine-detectably partial — the gate-side minimum-entry assert
    // the r15 verdict asked for, anchored from the repo side.
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"registry_size":${SparkEntry.queries.size},"queries":[""" +
        SparkEntry.queries.keys.toSeq.sorted.map(q).mkString(",") + "]}")
    // a reused outDir must not mix runs: stale progress lines would make a
    // clean run look crashed, and a stale verify_error.txt would indict a
    // successful one (r15 review) — this run's artifact starts empty
    val progress = Paths.get(s"$outDir/progress.jsonl")
    Files.deleteIfExists(progress)
    Files.deleteIfExists(Paths.get(s"$outDir/verify_error.txt"))
    def note(line: String): Unit =
      Files.writeString(progress, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    try {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      // Session.local's 1 MB scan splits make the gate ALSO exercise result
      // parity under multi-partition scans, which the engine's fixed-point
      // determinism discipline promises
      val spark = Session.local(cpus.toInt, withExtensions = false)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      Tables.probeSchemas(spark, sfDir) // fail loudly on testdata schema drift
      SparkEntry.queries
        .filter { case (name, _) => subset.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
          val t0 = System.nanoTime()
          // a reused outDir must not serve THIS run a PREVIOUS run's rows:
          // the gate enumerates parquet dirs, so a query that fails now
          // but passed last run would be graded on the stale result
          // (r15 review). Drop the old dir before running, not after — a
          // crash mid-query then leaves no dir, which reads as the
          // failure it is.
          def rmr(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmr)
            f.delete(): Unit
          }
          rmr(new java.io.File(s"$outDir/$name"))
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            note(s"""{"q":${q(name)},"ok":true,"sec":${(System.nanoTime()-t0)/1e9}}""")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            note(s"""{"q":${q(name)},"ok":false,"err":${q(String.valueOf(e))}}""")
          }
        }
      // Machine-readable verdicts for the declared-no-oracle queries
      // (tolerance/recall/equivalence — see SpecChecks). Full runs only: a
      // dev subset run shouldn't pay the extra ~30 s.
      if (subset.isEmpty)
        try SpecChecks.writeArtifacts(spark, sfDir, outDir)
        catch { case e: Throwable =>
          System.err.println(s"[verify] spec checks failed: ${e.getMessage}")
          note(s"""{"q":"spec_checks","ok":false,"err":${q(String.valueOf(e))}}""")
        }
      spark.stop()
    } catch { case e: Throwable =>
      // Never die silently: an empty artifact with no explanation cost
      // round 14 its external correctness evidence.
      val sw = new java.io.StringWriter(); e.printStackTrace(new java.io.PrintWriter(sw))
      Files.writeString(Paths.get(s"$outDir/verify_error.txt"), sw.toString)
      e.printStackTrace()
      sys.exit(1)
    }
  }
}
