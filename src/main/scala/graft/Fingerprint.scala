package graft

import org.apache.spark.sql.SparkSession

/** Content fingerprint of an input path — the staleness guard every
  * pay-once memo ([[SourceMemo]]) keys on (r15 verdict item 3: session-scope memos
  * trusted `dir` immutability for the session lifetime with only a doc
  * caveat; a regenerated testdata dir silently served stale layouts,
  * merge tables, and ANN indexes).
  *
  * The fingerprint folds the recursive file listing — (relative path,
  * length, modification time) per file — into one md5 hex string. That
  * is metadata-only: one FileSystem listing, no data read, ~micro-
  * seconds locally and one namenode round-trip on a DFS — cheap enough
  * to recompute on EVERY memoized access, which is what makes it a
  * guard rather than another cache to invalidate. Content hashing is
  * deliberately out of scope: a writer that preserves length AND mtime
  * while changing bytes defeats it, but no real file sink does.
  *
  * Scale note: the listing is O(#files under path). The engine's memos
  * fingerprint single table files or small test dirs (tens of files);
  * on a production table with millions of files, point the memo key at
  * the table's TRANSACTION MANIFEST instead (Delta/Iceberg snapshot
  * file, or a `_SUCCESS`/version marker your writer maintains) — one
  * stat, same staleness contract, because any rewrite that matters
  * rewrites the manifest. A per-dispatch recursive walk of a
  * million-file dir would itself become the bottleneck.
  */
object Fingerprint {

  /** The fingerprint convention for memos whose source is several files:
    * `dir` plus the fingerprints of the source files a memoized artifact
    * was built from (or of the whole dir when `rel` is empty). Layouts
    * stagings, prepared scans, kernel build sides, shard roots and BPE
    * tables hand it to [[SourceMemo]] as their generation, so a future
    * format change has a single definition (r16 review). How a fingerprint
    * guards a memo — replacement of the superseded generation, and the
    * re-fingerprint after every build that closes the fingerprint-then-
    * build window (r17 verdict item 5) — lives in [[SourceMemo]] alone.
    */
  def key(spark: SparkSession, dir: String, rel: String*): String =
    if (rel.isEmpty) s"$dir@" + of(spark, dir)
    else s"$dir@" + rel.map(r => of(spark, s"$dir/$r")).mkString(":")

  /** Fingerprint of `path` (file or directory, recursive). Nonexistent
    * paths fingerprint as "absent" — distinct from any real listing, so
    * a memo keyed on it re-runs once the path appears.
    */
  def of(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val scheme = p.toUri.getScheme
    // Local fast path (r17, measured): Hadoop's RawLocalFileSystem listing
    // execs a process PER FILE to load permission bits
    // (DeprecatedRawLocalFileStatus.loadPermissionInfo) — ~4.5 ms/file, so
    // "one metadata listing" was costing ~50 ms/dir and dominating the
    // memoized kernel dispatch it guards. java.nio reads the same
    // (length, mtime) via one statx per file — microseconds for the dirs
    // these memos fingerprint. DFS paths keep the Hadoop listing (one
    // namenode round-trip, no per-file exec).
    //
    // Scheme-less paths resolve against fs.defaultFS by Hadoop convention
    // (r17 advice): on a cluster whose default FS is HDFS/S3, "a/b/c" is a
    // DFS path, and fingerprinting the driver's LOCAL disk instead would
    // read "absent" and silently defeat every staleness guard. Take the
    // nio branch only when the path is provably local.
    val effectiveScheme =
      if (scheme != null) scheme
      else org.apache.hadoop.fs.FileSystem
        .getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme
    if (effectiveScheme == "file") return ofLocal(p.toUri.getPath)
    ofHadoop(spark, p)
  }

  /** The FileSystem-API branch of [[of]] — non-local schemes. Kept
    * callable on local paths too so FingerprintSpec can pin digest
    * equality between the two branches: an index COMMITTED with one
    * branch's digest must still be ADOPTED after an upgrade that reads
    * it with the other (a format drift would silently re-train every
    * committed artifact exactly once).
    */
  private[graft] def ofHadoop(spark: SparkSession, p: org.apache.hadoop.fs.Path): String = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val md = java.security.MessageDigest.getInstance("MD5")
    val base = p.toUri.getPath
    // RemoteIterator listFiles(recursive) returns a stable lexicographic
    // walk per FileSystem; sort defensively so the digest never depends
    // on listing order anyway
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base)
      entries += s"$rel ${st.getLen} ${st.getModificationTime}"
    }
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** [[of]] for local paths via java.nio — same (relative path, length,
    * mtime) digest inputs, no per-file process spawn. mtime is read in
    * MILLISECONDS to match Hadoop's FileStatus.getModificationTime, so a
    * path fingerprinted through either branch digests identically.
    */
  private def ofLocal(path: String): String = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(path)
    if (!Files.exists(root)) return "absent"
    val md = java.security.MessageDigest.getInstance("MD5")
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    // FOLLOW_LINKS for Hadoop parity (r17 advice): RawLocalFileSystem's
    // recursive listing traverses symlinked directories (java.io.File
    // semantics), so the nio branch must too, or a symlinked subdir makes
    // the two branches digest different entry sets — the committed-
    // artifact format drift the ofHadoop scaladoc warns about. Files.walk
    // throws FileSystemLoopException on cycles, which is the right
    // behavior: a cyclic input dir has no well-defined listing either way.
    val stream = Files.walk(root, java.nio.file.FileVisitOption.FOLLOW_LINKS)
    try {
      stream.forEach { f =>
        // ChecksumFileSystem parity: Hadoop's local FS HIDES its checksum
        // sidecars (".<name>.crc") from listings, so the nio walk must
        // skip them too or the two branches digest different entry sets
        // (StalenessSpec pins branch equality)
        val name = f.getFileName.toString
        val isCrcSidecar = name.startsWith(".") && name.endsWith(".crc")
        if (!isCrcSidecar && Files.isRegularFile(f)) {
          val rel = root.relativize(f).toString match {
            case "" => "" // `path` IS a regular file: Hadoop's rel is "" too
            case r  => "/" + r
          }
          entries += s"$rel ${Files.size(f)} ${Files.getLastModifiedTime(f).toMillis}"
        }
      }
    } finally stream.close()
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
