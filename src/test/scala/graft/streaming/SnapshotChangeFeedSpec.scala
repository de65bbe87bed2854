package graft.streaming

import graft.SparkSpec
import graft.storage.SnapshotStore
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under a scheme of its own whose next rename throws
  * once armed — the failure (or crash) point between writing a new mark
  * and publishing it. Top-level: Hadoop instantiates it by class name. */
class FaultyRenameFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${FaultyRenameFileSystem.Scheme}:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (FaultyRenameFileSystem.failNext.getAndSet(false))
      throw new java.io.IOException(s"injected rename failure: $src -> $dst")
    else super.rename(src, dst)
}
object FaultyRenameFileSystem {
  val Scheme = "faultyrename"
  val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Contract of the high-water-mark change-feed consumer: exactly-once
  * delivery per version range on success, SAME-range redelivery on a
  * failed delivery (advance-on-success-only — the reference's
  * checkpoint semantics at storage grain), and rewrite commits never
  * surfacing. */
class SnapshotChangeFeedSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapfeed").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("each drain delivers exactly the new appends; the mark advances on success") {
    val dir = freshDir()
    val ckpt = s"${freshDir()}/mark"
    val got = scala.collection.mutable.Buffer.empty[(Long, String)]
    def drain() = SnapshotChangeFeed.drainOnce(spark, dir, ckpt) {
      (rows, _, _) => got ++= rows.as[(Long, String)].collect()
    }
    assert(drain().isEmpty, "nothing committed, nothing delivered")

    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    assert(drain().contains((0L, 1L)))
    assert(got.toSet == Set(1L -> "a", 2L -> "b"))

    SnapshotStore.commitAppend(spark, dir, docs(3L -> "c"), "append")
    SnapshotStore.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    SnapshotStore.commitAppend(spark, dir, docs(4L -> "d"), "append")
    assert(drain().contains((1L, 4L)))
    assert(got.toSet == Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      "appends delivered once; the compaction rewrite surfaced nothing")
    assert(drain().isEmpty, "drained feed delivers nothing")
    assert(SnapshotChangeFeed.highWaterMark(spark, ckpt) == 4L)
  }

  test("a failed delivery leaves the mark untouched and the SAME range redelivers") {
    val dir = freshDir()
    val ckpt = s"${freshDir()}/mark"
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    intercept[RuntimeException] {
      SnapshotChangeFeed.drainOnce(spark, dir, ckpt) { (_, _, _) =>
        throw new RuntimeException("sink down")
      }
    }
    assert(SnapshotChangeFeed.highWaterMark(spark, ckpt) == 0L,
      "advance-on-success-only")
    val got = scala.collection.mutable.Buffer.empty[(Long, String)]
    val r = SnapshotChangeFeed.drainOnce(spark, dir, ckpt) {
      (rows, _, _) => got ++= rows.as[(Long, String)].collect()
    }
    assert(r.contains((0L, 1L)) && got.toSet == Set(1L -> "a"),
      "the failed range redelivers intact")
  }

  test("a failed mark advance leaves the previous mark readable") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${FaultyRenameFileSystem.Scheme}.impl",
      classOf[FaultyRenameFileSystem].getName)
    val dir = freshDir()
    val ckpt = s"${FaultyRenameFileSystem.Scheme}://${freshDir()}/mark"
    def drain(got: Long => Unit = _ => ()) =
      SnapshotChangeFeed.drainOnce(spark, dir, ckpt) { (rows, _, _) =>
        rows.select("doc_id").as[Long].collect().foreach(got)
      }
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    assert(drain().contains((0L, 1L)))
    SnapshotStore.commitAppend(spark, dir, docs(2L -> "b"), "append")
    FaultyRenameFileSystem.failNext.set(true)
    try intercept[java.io.IOException](drain())
    finally FaultyRenameFileSystem.failNext.set(false)
    assert(SnapshotChangeFeed.highWaterMark(spark, ckpt) == 1L,
      "a failed advance must keep the old mark, not leave none (which reads 0)")
    val got = scala.collection.mutable.Buffer.empty[Long]
    assert(drain(got += _).contains((1L, 2L)) && got == Seq(2L),
      "the range whose mark failed to advance redelivers, nothing before it")
    assert(SnapshotChangeFeed.highWaterMark(spark, ckpt) == 2L)
  }

  test("independent consumers follow one table with their own marks") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    SnapshotStore.commitAppend(spark, dir, docs(2L -> "b"), "append")
    val (c1, c2) = (s"${freshDir()}/m1", s"${freshDir()}/m2")
    var n1 = 0L
    assert(SnapshotChangeFeed.drainOnce(spark, dir, c1) {
      (rows, _, _) => n1 = rows.count()
    }.contains((0L, 2L)) && n1 == 2L)
    // the second consumer starts from scratch, unaffected by the first
    SnapshotStore.commitAppend(spark, dir, docs(3L -> "c"), "append")
    var n2 = 0L
    assert(SnapshotChangeFeed.drainOnce(spark, dir, c2) {
      (rows, _, _) => n2 = rows.count()
    }.contains((0L, 3L)) && n2 == 3L)
    // and the first picks up only the delta
    var d1 = Set.empty[Long]
    assert(SnapshotChangeFeed.drainOnce(spark, dir, c1) {
      (rows, _, _) => d1 = rows.select("doc_id").as[Long].collect().toSet
    }.contains((2L, 3L)) && d1 == Set(3L))
  }
}
