package graft

import org.apache.hadoop.fs.Path

/** Fault injection for [[WarehouseArtifact]], the lifecycle every
  * warehouse-committed family rides (video and packed corpora, packed
  * epoch roots, the staged ANN index). A staging is stopped at each step
  * of its write; at every stop, readers see the previous committed dir or
  * none — never a partial one — another process's sweep leaves this
  * process's debris alone, and this process's next staging reclaims it.
  * A second instance with another tag stands in for a second process
  * sharing the warehouse.
  */
class WarehouseArtifactSpec extends SparkSpec {

  private final class Stop extends RuntimeException("write stopped")

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(p: String): Boolean = fs(p).exists(new Path(p))
  private def touch(p: String): Unit = fs(p).create(new Path(p)).close()
  private def isCommitted(p: String): Boolean = exists(s"$p/_SUCCESS")

  /** The write a family performs: data files, then the commit marker. */
  private def commitWrite(out: String): Unit = {
    touch(s"$out/part-00000.parquet")
    touch(s"$out/_SUCCESS")
  }

  /** A fresh source identity, and the removal of its dirs afterwards. */
  private def withDir(body: String => Unit): Unit = {
    val dir = s"/warehouse-artifact-spec/${java.util.UUID.randomUUID}"
    val any = new WarehouseArtifact("spec")
    try body(dir)
    finally any.names(spark, dir).map(any.path(spark, _))
      .foreach(p => fs(p).delete(new Path(p), true))
  }

  private val stops = Seq(
    "before any byte is written" -> ((_: String) => ()),
    "after a data file, before _SUCCESS" ->
      ((out: String) => touch(s"$out/part-00000.parquet")),
    "after _SUCCESS, before the dir is marked live" -> (commitWrite _))

  for ((at, partialWrite) <- stops)
    test(s"a staging stopped $at: no reader sees a partial dir; only its process reclaims it") {
      withDir { dir =>
        val a = new WarehouseArtifact("spec")
        val b = new WarehouseArtifact("spec", tag = "otherpro")
        val g1 = a.stageOrAdopt(spark, dir, "fp1")(commitWrite)
        assert(new Path(g1).getName.matches(
          s"g_spec_[0-9a-f]{32}_fp1_${a.tag}_[0-9a-f]{8}"), g1)

        // a regenerated source stages under fp2, and its write stops
        var staged: String = null
        intercept[Stop] {
          a.stageOrAdopt(spark, dir, "fp2") { out =>
            staged = out
            partialWrite(out)
            // a sibling staging's sweep in this process, judging every own
            // dir dead, still spares the live dir and the one mid-write
            a.sweep(spark, dir, WarehouseArtifact.Dead(own = _ => true))
            assert(exists(g1), "the live dir must survive a sibling's sweep")
            assert(exists(out) === (at != stops.head._1),
              "the in-flight dir must survive a sibling's sweep")
            throw new Stop
          }
        }
        val markerWritten = at == stops.last._1

        // the listing of committed dirs never includes a dir without its marker
        val committedNow = a.committed(spark, dir)
        assert(committedNow.forall(isCommitted), committedNow)
        assert(committedNow === (if (markerWritten) Seq(g1, staged).sorted else Seq(g1)))

        // the other process adopts the previous committed dir, and finds a
        // fp2 dir only once its marker landed
        assert(b.committed(spark, dir, "fp2") === (if (markerWritten) Seq(staged) else Nil))
        assert(b.stageOrAdopt(spark, dir, "fp1")(_ => fail("must adopt, not stage")) === g1)

        // the other process's sweep leaves this process's debris alone
        b.sweep(spark, dir, WarehouseArtifact.Dead(own = _ => true))
        assert(exists(staged) === (at != stops.head._1),
          "another process's sweep must not reclaim this process's dirs")

        // this process's next staging reclaims its own debris (or adopts the
        // dir whose marker landed): disk holds committed dirs only
        val g2 = a.stageOrAdopt(spark, dir, "fp2")(commitWrite)
        if (markerWritten) assert(g2 === staged)
        val onDisk = a.names(spark, dir).map(a.path(spark, _))
        assert(onDisk === Seq(g1, g2).sorted, onDisk)
        assert(onDisk.forall(isCommitted))
      }
    }

  test("a foreign rule (the ANN expired tombstone) is the one way another process's dir goes") {
    withDir { dir =>
      val a = new WarehouseArtifact("spec")
      val b = new WarehouseArtifact("spec", tag = "otherpro")
      val g1 = a.stageOrAdopt(spark, dir, "fp1")(commitWrite)
      val g2 = a.stageOrAdopt(spark, dir, "fp2")(commitWrite)
      b.sweep(spark, dir, WarehouseArtifact.Dead(own = _ => true))
      assert(exists(g1) && exists(g2))
      b.sweep(spark, dir, WarehouseArtifact.Dead(own = _ => true, foreign = _ == g1))
      assert(!exists(g1) && exists(g2))
    }
  }
}
