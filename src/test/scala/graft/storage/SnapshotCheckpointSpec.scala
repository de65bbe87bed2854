package graft.storage

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Contract of the manifest-log checkpoint pointer (round 15): the hot
  * read paths (latestVersion, the streaming ingest guard's load) cost
  * O(1 + pointer lag) manifest touches on a 1,000-commit log — never a
  * full `_manifests` directory listing — and every degradation
  * (stale pointer, corrupt pointer, vacuumed-past pointer) falls back
  * to the listed truth rather than a wrong answer. */
class SnapshotCheckpointSpec extends SparkSpec {

  import spark.implicits._
  import SnapshotStore.{Manifest, Pointer}
  import ManifestFixtures.manifest

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapckpt").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** Log versions `vs` of a synthetic one-file-per-version table, each
    * as its action delta over the version before; returns the last. */
  private def writeLog(dir: String, vs: Seq[Long])
                      (mk: Long => Manifest): Manifest =
    vs.foldLeft(SnapshotStore.EmptyTable) { (prior, v) =>
      val m = mk(v)
      SnapshotStore.writeManifestForTest(spark, dir, m, prior)
      m
    }

  test("a 1,000-commit log: latestVersion reads ZERO manifests and ZERO full listings off a warm pointer; the ingest guard load reads only the tail") {
    val dir = freshDir()
    val last = writeLog(dir, 1L to 1000L) { v =>
      val op = if (v % 3 == 0) s"ingest-b$v" else "append"
      manifest(v, op, Seq(s"$dir/data/f$v.parquet"))
    }
    // v1000's interval checkpoint, as a committed log carries it
    SnapshotStore.writeCheckpointForTest(spark, dir, last)
    // a pointer 10 commits stale (a crash between rename and pointer
    // write, 10 times over — far beyond the single-commit window)
    SnapshotStore.writePointerForTest(spark, dir, Pointer(990L, 987L))
    val fl0 = SnapshotStore.fullListingCount.get()
    val mr0 = SnapshotStore.manifestReadCount.get()
    assert(SnapshotStore.latestVersion(spark, dir).contains(1000L),
      "the forward probe repairs a stale pointer exactly")
    assert(SnapshotStore.fullListingCount.get() == fl0,
      "latestVersion must never list the manifest dir off a valid pointer")
    assert(SnapshotStore.manifestReadCount.get() == mr0,
      "latestVersion needs existence probes only, zero manifest reads")
    // the streaming replay guard's load: pointer value + the 10-tail
    assert(SnapshotStore.maxIngestBatchId(spark, dir).contains(999L),
      "tail ingest commits past the pointer must fold into the max")
    assert(SnapshotStore.manifestReadCount.get() - mr0 <= 10,
      s"guard load must read only the tail manifests, " +
        s"read ${SnapshotStore.manifestReadCount.get() - mr0}")
    assert(SnapshotStore.fullListingCount.get() == fl0)
    // one more targeted read = exactly one manifest open
    val mr1 = SnapshotStore.manifestReadCount.get()
    SnapshotStore.manifest(spark, dir, 1000L)
    assert(SnapshotStore.manifestReadCount.get() - mr1 == 1)
  }

  test("a corrupt pointer degrades to the full listing, never a wrong answer") {
    val dir = freshDir()
    writeLog(dir, 1L to 5L)(v =>
      manifest(v, "append", Seq(s"$dir/data/f$v.parquet")))
    val p = new Path(s"$dir/_manifests/_latest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write("not json{".getBytes("UTF-8")); out.close()
    val fl0 = SnapshotStore.fullListingCount.get()
    assert(SnapshotStore.latestVersion(spark, dir).contains(5L))
    assert(SnapshotStore.fullListingCount.get() == fl0 + 1,
      "corrupt pointer = one listing fallback")
  }

  test("real commits write and refresh the pointer, carrying the ingest high-water mark") {
    val dir = freshDir()
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    assert(SnapshotStore.readPointer(spark, dir).contains(Pointer(1L, -1L)))
    SnapshotStore.commitAppend(spark, dir, docs(2L -> "b"), "ingest-b7")
    assert(SnapshotStore.readPointer(spark, dir).contains(Pointer(2L, 7L)))
    // a non-ingest commit carries the mark forward
    SnapshotStore.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(SnapshotStore.readPointer(spark, dir).contains(Pointer(3L, 7L)))
    // warm-pointer reads: no listing at all
    val fl0 = SnapshotStore.fullListingCount.get()
    assert(SnapshotStore.latestVersion(spark, dir).contains(3L))
    assert(SnapshotStore.maxIngestBatchId(spark, dir).contains(7L))
    assert(SnapshotStore.fullListingCount.get() == fl0)
  }

  test("vacuum refreshes a stale pointer so it never names a dropped manifest") {
    val dir = freshDir()
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest-b1")
    SnapshotStore.commit(spark, dir, docs(2L -> "b"), "upsert")
    SnapshotStore.commit(spark, dir, docs(3L -> "c"), "upsert")
    // simulate a long-stale pointer naming the version vacuum will drop
    SnapshotStore.writePointerForTest(spark, dir, Pointer(1L, 1L))
    SnapshotStore.vacuum(spark, dir, retain = 2)
    assert(SnapshotStore.readPointer(spark, dir).contains(Pointer(3L, 1L)),
      "vacuum must re-point at the retained latest and keep the ingest mark")
    val fl0 = SnapshotStore.fullListingCount.get()
    assert(SnapshotStore.latestVersion(spark, dir).contains(3L))
    assert(SnapshotStore.fullListingCount.get() == fl0,
      "the refreshed pointer serves reads without a listing")
  }

  test("TIMESTAMP AS OF binary-searches the monotone log: O(log n) manifest reads on a 1,000-commit table, mid-history or deep-history alike") {
    val dir = freshDir()
    writeLog(dir, 1L to 1000L)(v =>
      manifest(v, "append", Seq(s"$dir/data/f$v.parquet"),
        ts = 1000L + v * 10L))
    SnapshotStore.writePointerForTest(spark, dir, Pointer(1000L, -1L))
    val bound = 2 * 10 + 4 // ~2·log₂(1000) + slack, NOT O(commits)
    def reads(body: => Long): (Long, Long) = {
      val mr0 = SnapshotStore.manifestReadCount.get()
      val got = body
      (got, SnapshotStore.manifestReadCount.get() - mr0)
    }
    // a mid-history instant (between commit 500 and 501) — the case the
    // old backward walk paid 500 manifest reads for
    val (v1, r1) = reads(
      SnapshotStore.versionAtTimestamp(spark, dir, 1000L + 500L * 10L + 5L))
    assert(v1 == 500L)
    assert(r1 <= bound, s"mid-history instant read $r1 manifests (> $bound)")
    // the exact commit instant resolves to that commit
    val (v2, r2) = reads(
      SnapshotStore.versionAtTimestamp(spark, dir, 1000L + 7L * 10L))
    assert(v2 == 7L)
    assert(r2 <= bound, s"deep-history instant read $r2 manifests (> $bound)")
    // at-or-after-latest short-circuits to ~1 read
    val (v3, r3) = reads(
      SnapshotStore.versionAtTimestamp(spark, dir, 1000L + 99999L))
    assert(v3 == 1000L && r3 <= 2)
    // an instant before all retained history: the TYPED refusal
    val e = intercept[SnapshotStore.NoRetainedVersionAtTimestamp] {
      SnapshotStore.versionAtTimestamp(spark, dir, 5L)
    }
    assert(e.getMessage.contains("no retained version at or before"))
  }

  test("TIMESTAMP AS OF on a vacuumed prefix and a legacy untimestamped log keeps the round-15 refusal semantics") {
    val dir = freshDir()
    // versions 1-9 vacuumed away; 10-20 retained and timestamped
    writeLog(dir, 10L to 20L)(v =>
      manifest(v, "append", Seq(s"$dir/data/f$v.parquet"), ts = v * 100L))
    assert(SnapshotStore.versionAtTimestamp(spark, dir, 1_550L) == 15L)
    assert(SnapshotStore.versionAtTimestamp(spark, dir, 1_000L) == 10L)
    intercept[SnapshotStore.NoRetainedVersionAtTimestamp] {
      SnapshotStore.versionAtTimestamp(spark, dir, 999L)
    }
    // a log entry without a commit timestamp is refused, naming its
    // version — NOT the typed before-history refusal (the streaming
    // source maps only the latter to a full replay)
    val untimed = freshDir()
    val p = new Path(s"$untimed/_manifests/v00000001.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, false)
    try out.write(("""{"version":1,"operation":"append",""" +
      s""""adds":[{"f":"$untimed/data/f1.parquet"}]}""").getBytes("UTF-8"))
    finally out.close()
    val e = intercept[Exception] {
      SnapshotStore.versionAtTimestamp(spark, untimed, 12345L)
    }
    assert(!e.isInstanceOf[SnapshotStore.NoRetainedVersionAtTimestamp])
    assert(e.getMessage.contains("version 1 records no commit timestamp"),
      e.getMessage)
  }

  test("a pointer crash-lost between rename and write only costs a probe (laggy pointer simulation)") {
    val dir = freshDir()
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    SnapshotStore.commit(spark, dir, docs(2L -> "b"), "upsert")
    // wind the pointer back one commit (= the crash window)
    SnapshotStore.writePointerForTest(spark, dir, Pointer(1L, -1L))
    val fl0 = SnapshotStore.fullListingCount.get()
    assert(SnapshotStore.latestVersion(spark, dir).contains(2L))
    assert(SnapshotStore.fullListingCount.get() == fl0)
  }
}
