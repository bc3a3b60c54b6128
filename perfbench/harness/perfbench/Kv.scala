package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.kv.{Entity, Stash}

/** The keyed entity store workload: biggie-style entities with tensor fields
  * of seed-drawn sizes plus scalar, string and long fields, saved bucketed
  * and reopened; then Zipf-skewed point gets (a few misses included) with
  * one versioned write per `GetsPerWrite` gets. A write upserts a batch
  * (half updates, half inserts), removes as many live keys as it inserts,
  * saves the result as the next version and opens it, the commit pattern
  * of `Streams.streamIntoStash`. The store keeps `Initial` entities, so
  * its size does not depend on how many writes fit in the run. Every get
  * is compared with a model of the store: one digest per live key.
  */
final class Kv(spark: SparkSession, h: Harness, root: String, rng: Random) {
  import spark.implicits._

  val Initial = 2000
  val Batch = 200
  val GetsPerWrite = 20
  val Buckets = 8
  val MissShare = 0.05
  val ZipfS = 1.1

  /** Live keys in popularity order (rank 0 hottest); per live key the
    * digest of its entity and its raw user bytes.
    */
  private val keys = mutable.ArrayBuffer.empty[String]
  private val model = mutable.HashMap.empty[String, (String, Long)]
  private var cdf: Array[Double] = Array.empty
  private var stash: Stash = _
  private var version = 0L
  private var nextKey = 0
  private var misses = 0
  private val files = mutable.ArrayBuffer.empty[Int]
  private val storeRatio = mutable.ArrayBuffer.empty[Double]

  private def entity(key: String): Entity = {
    val n = 64 + rng.nextInt(1985)
    val r = 2 + rng.nextInt(31)
    val c = 2 + rng.nextInt(31)
    Entity(key,
      tensors = Map("x" -> Array.fill(n)(rng.nextGaussian()),
        "y" -> Array.fill(r * c)(rng.nextDouble())),
      shapes = Map("x" -> Array(n), "y" -> Array(r, c)),
      scalars = Map("score" -> rng.nextDouble()),
      strings = Map("label" -> s"label-${rng.nextInt(100)}"),
      longs = Map("ts" -> rng.nextLong()))
  }

  private def newKey(): String = { nextKey += 1; f"e$nextKey%07d" }

  /** Raw user bytes of an entity: key, field names and payloads. */
  private def userBytes(e: Entity): Long = {
    def b(s: String) = s.getBytes("UTF-8").length.toLong
    b(e.key) +
      e.tensors.map { case (k, v) => b(k) + 8L * v.length }.sum +
      e.shapes.map { case (k, v) => b(k) + 4L * v.length }.sum +
      e.scalars.keys.map(b(_) + 8L).sum +
      e.strings.map { case (k, v) => b(k) + b(v) }.sum +
      e.longs.keys.map(b(_) + 8L).sum
  }

  /** SHA-256 over every field of an entity, in key order, doubles by their
    * bits.
    */
  private def digest(e: Entity): String = {
    val b = java.nio.ByteBuffer.allocate(8)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def str(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0: Byte) }
    def long(x: Long): Unit = { b.clear(); b.putLong(x); md.update(b.array()) }
    def dbl(x: Double): Unit = long(java.lang.Double.doubleToLongBits(x))
    str(e.key)
    e.tensors.toSeq.sortBy(_._1).foreach { case (k, v) => str(k); long(v.length); v.foreach(dbl) }
    e.shapes.toSeq.sortBy(_._1).foreach { case (k, v) => str(k); long(v.length); v.foreach(x => long(x)) }
    e.scalars.toSeq.sortBy(_._1).foreach { case (k, v) => str(k); dbl(v) }
    e.strings.toSeq.sortBy(_._1).foreach { case (k, v) => str(k); str(v) }
    e.longs.toSeq.sortBy(_._1).foreach { case (k, v) => str(k); long(v) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def remember(e: Entity): Unit = model(e.key) = (digest(e), userBytes(e))

  private def path(v: Long) = s"$root/v$v"

  private def resetCdf(): Unit = {
    val w = Array.tabulate(keys.size)(i => 1.0 / math.pow(i + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    cdf = w.map { x => acc += x; acc / total }
  }

  private def pickKey(round: Int): String =
    if (rng.nextDouble() < MissShare) {
      if (round > 0) misses += 1
      s"absent-${rng.nextInt(1000000)}"
    }
    else {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      keys(math.min(if (i >= 0) i else -i - 1, keys.size - 1))
    }

  private def get(round: Int): Unit = {
    val k = pickKey(round)
    h.op(round, "get", "get") {
      val got = h.span("kv", "Stash.get")(stash.get(k))
      Answer("Stash.get", got.size.toLong, () => got.map(digest) == model.get(k).map(_._1))
    }
  }

  private def write(round: Int): Unit = {
    val picked = rng.shuffle(keys.toVector).take(Batch)
    val (updated, removed) = picked.splitAt(Batch / 2)
    val updates = updated.map(entity)
    val inserts = Vector.fill(Batch - Batch / 2)(entity(newKey()))
    val batch = updates ++ inserts
    val ds = spark.createDataset(batch)
    h.op(round, "write", "write") {
      val upserted = h.span("kv", "Stash.addAll")(stash.addAll(ds))
      val next = h.span("kv", "Stash.remove")(removed.foldLeft(upserted)(_.remove(_)))
      h.span("kv", "Stash.save")(next.save(path(version + 1), Buckets))
      stash = h.span("kv", "Stash.open")(Stash.open(spark, path(version + 1)))
      Answer("Stash.addAll+save+open", batch.size.toLong, () => true)
    }
    version += 1
    batch.foreach(remember)
    model --= removed
    val gone = removed.toSet
    keys.filterInPlace(k => !gone(k))
    keys ++= inserts.map(_.key)
    resetCdf()
    Stash.gcVersions(spark, root, version)
    if (round > 0) recordStore()
  }

  private def recordStore(): Unit = {
    val data = Option(new File(path(version)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    files += data.count(_.getName.startsWith("part-"))
    storeRatio += data.map(_.length).sum.toDouble / model.values.map(_._2).sum
  }

  /** Set-up builds version 0 and runs one warm round; a round is
    * `GetsPerWrite` gets with one write at a seed-drawn position. Store
    * statistics are kept for timed rounds (round > 0) only.
    */
  def workload(): Workload = {
    val round = (r: Int) => {
      val at = rng.nextInt(GetsPerWrite + 1)
      (0 to GetsPerWrite).foreach(i => if (i == at) write(r) else get(r))
      h.note("kv", Map(
        "misses" -> misses,
        "files_per_version" -> files.toSeq,
        "store_bytes_per_user_byte" -> storeRatio.toSeq,
        "entities" -> model.size))
    }
    val setup = () => {
      val es = h.setupPart("kv.generate")(Vector.fill(Initial)(entity(newKey())))
      es.foreach(remember)
      keys ++= rng.shuffle(es.map(_.key))
      resetCdf()
      h.setupPart("kv.build") {
        Stash.fromEntities(spark, es).save(path(0), Buckets)
        stash = Stash.open(spark, path(0))
      }
      // one untimed warm round; its gets count as set-up checks
      round(0)
    }
    Workload(setup, round)
  }
}
