package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of the LAZY BLOOM SIDECARS (round 19 — the Delta
  * bloom-index sidecar discipline): bloom bytes live in per-commit
  * parquet sidecars, never in the driver-resident Manifest; the probe
  * path loads bits ONLY for files that already survived min/max
  * pruning (and nothing when min/max pruned everything); loads cache;
  * vacuum retains referenced sidecars — including a CONVERT commit's
  * sidecar-only version dir — and reclaims unreferenced ones. */
class SnapshotBloomSidecarSpec extends SparkSpec {

  import spark.implicits._
  import SnapshotStore.FilePredicate._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapbloomsc").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** ids shuffled across files — every file's (min, max) spans ~the
    * whole range, so min/max never prunes and only blooms can */
  private def shuffled(lo: Long, hi: Long, files: Int) =
    (lo to hi).map(i => (i, s"body $i")).toDF("doc_id", "text")
      .withColumn("s", pmod(hash(col("doc_id")), lit(files)))
      .repartitionByRange(files, col("s")).drop("s")

  test("the Manifest holds ZERO bloom bytes — pointers only — across " +
    "commits, appends, checkpoint reconstruction, and the action log") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, shuffled(1L, 2000L, 8), "ingest",
      bloomCols = Seq("doc_id"))
    (1 to 10).foreach(i => SnapshotStore.commitAppend(spark, dir,
      Seq((10000L + i, s"a$i")).toDF("doc_id", "text"), "append"))
    def assertPointerOnly(m: SnapshotStore.Manifest): Unit = {
      val blooms = m.stats.values.flatMap(_.blooms.values).toSeq
      assert(blooms.nonEmpty, "declared blooms must be recorded")
      assert(blooms.forall(b => b.sidecar.nonEmpty && b.ord >= 0L),
        "every bloom entry must be a sidecar POINTER, zero inline bytes")
      // one sidecar per committing version dir, interned: the distinct
      // sidecar PATHS are few even when entries are many
      assert(blooms.map(_.sidecar).distinct.size <= 11)
    }
    // live reconstruction (action-log fold)
    assertPointerOnly(SnapshotStore.manifest(spark, dir, 11L))
    // v10 crossed the checkpoint interval — force a CHECKPOINT read and
    // re-assert (the checkpoint encodes pointers, never re-inlined bits)
    SnapshotStore.clearManifestCacheForTest()
    val ck = SnapshotStore.readCheckpointForTest(spark, dir, 10L)
    assert(ck.isDefined, "v10 must carry a parquet checkpoint")
    assertPointerOnly(ck.get)
    // the checkpoint round-trips the reconstruction EXACTLY
    assert(ck.get == SnapshotStore.manifest(spark, dir, 10L) ||
      ck.get.stats == SnapshotStore.manifest(spark, dir, 10L).stats)
  }

  test("LAZINESS: a probe loads sidecar bits only for min/max " +
    "survivors; an out-of-range probe loads NOTHING; repeats hit the " +
    "in-JVM cache; pruning parity with the inline era holds") {
    val dir = freshDir()
    // two commits → two sidecars; shuffled ids defeat min/max inside
    // each commit's range, but the two RANGES are disjoint
    SnapshotStore.commit(spark, dir, shuffled(1L, 2000L, 8), "ingest",
      bloomCols = Seq("doc_id"))
    SnapshotStore.commitAppend(spark, dir, shuffled(100001L, 102000L, 8),
      "append")
    SnapshotStore.clearSidecarBloomCacheForTest()
    // (a) a value OUTSIDE every file's range: min/max prunes all 16
    // files in phase 1 — no sidecar may load
    val before = SnapshotStore.sidecarReadCount.get()
    assert(SnapshotStore.prunedFiles(spark, dir, 2L,
      EqTo("doc_id", 50000L)).isEmpty)
    assert(SnapshotStore.sidecarReadCount.get() == before,
      "min/max pruned everything — the probe must not touch any sidecar")
    // (b) a value inside commit 1's range: candidates are commit-1
    // files only → ONLY commit 1's sidecar loads
    val hit = SnapshotStore.prunedFiles(spark, dir, 2L, EqTo("doc_id", 777L))
    assert(hit.length <= 3,
      s"bloom must prune the point lookup: kept ${hit.length} of 16")
    assert(SnapshotStore.sidecarReadCount.get() == before + 1,
      "exactly the candidate files' ONE sidecar may be read")
    assert(SnapshotStore.lastSidecarReads.forall(_.contains("v00000001")),
      s"commit 2's sidecar must not load: ${SnapshotStore.lastSidecarReads}")
    // (c) the repeat probe is served from the bounded cache
    assert(SnapshotStore.prunedFiles(spark, dir, 2L,
      EqTo("doc_id", 777L)).length == hit.length)
    assert(SnapshotStore.sidecarReadCount.get() == before + 1,
      "the repeat probe must be a cache hit — no new sidecar read")
    // (d) answers stay exact through the lazy path
    assert(SnapshotStore.readAsOfWhere(spark, dir, 2L, EqTo("doc_id", 777L))
      .select("text").as[String].head() == "body 777")
    assert(SnapshotStore.readAsOfWhere(spark, dir, 2L,
      EqTo("doc_id", 1500L)).count() == 1L)
    // (e) the Catalyst index rides the same lazy path
    val (dfIdx, idx) = SnapshotFileIndex.readAsOfTableWithIndex(spark, dir, 2L)
    assert(dfIdx.filter(col("doc_id") === 100777L)
      .select("text").as[String].head() == "body 100777")
    assert(idx.lastListedCount <= 3,
      s"index bloom-prunes through sidecars: ${idx.lastListedCount} of 16")
  }

  test("CACHE STALENESS: a dropped-and-recreated table at the SAME path " +
    "(same sidecar paths, same ords) never serves the old table's bloom " +
    "bits — recreation must not wrongly prune files holding the value") {
    val dir = freshDir()
    def build(lo: Long, hi: Long): Unit = {
      val f = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(dir), true)
      SnapshotStore.clearManifestCacheForTest()
      SnapshotStore.commit(spark, dir, shuffled(lo, hi, 4), "ingest",
        bloomCols = Seq("doc_id"))
    }
    build(1L, 1000L)
    // prime the sidecar bloom cache with the FIRST table's bits
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, EqTo("doc_id", 777L))
      .count() == 1L)
    // recreate at the same path with a DIFFERENT id range: the sidecar
    // paths and ords are identical — only the dir mtime differs
    Thread.sleep(5) // ensure a distinct mtime tick for the new sidecar
    build(500L, 1500L)
    // the probed value exists in the new table; serving the old cached
    // bits could prune its file away (the old bloom may lack 1400)
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L,
      EqTo("doc_id", 1400L)).count() == 1L,
      "stale cached sidecar bits must never prune the recreated table")
    assert(SnapshotStore.prunedFiles(spark, dir, 1L,
      EqTo("doc_id", 1400L)).nonEmpty)
  }

  test("a dangling sidecar (externally removed) degrades to " +
    "conservative KEEP — never a wrong answer, never an error") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, shuffled(1L, 1000L, 4), "ingest",
      bloomCols = Seq("doc_id"))
    val m = SnapshotStore.manifest(spark, dir, 1L)
    val sc = m.stats.values.head.blooms("doc_id").sidecar
    val f = new org.apache.hadoop.fs.Path(sc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(sc), true)
    SnapshotStore.clearSidecarBloomCacheForTest()
    // pruning degrades EXACTLY to range-only (bloom contributes
    // nothing; min/max may still legally prune) and the answer stays
    // exact
    val rangeOnly = SnapshotStore.prunedFiles(spark, dir, 1L,
      between("doc_id", 77L, 77L))
    assert(SnapshotStore.prunedFiles(spark, dir, 1L,
      EqTo("doc_id", 77L)) == rangeOnly,
      "a dangling sidecar must degrade to range-only pruning — " +
        "conservative keep, never a drop")
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, EqTo("doc_id", 77L))
      .select("text").as[String].head() == "body 77")
  }

  test("vacuum: referenced sidecars survive (probe still prunes), a " +
    "CONVERT commit's sidecar-only version dir is retained, and fully " +
    "rewritten commits' sidecars reclaim with their version dirs") {
    val dir = freshDir()
    // CONVERT: data files at the source root, sidecar alone in data/v1
    (1L to 800L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .withColumn("s", pmod(hash(col("doc_id")), lit(4)))
      .repartitionByRange(4, col("s")).drop("s")
      .write.parquet(dir)
    SnapshotStore.convertParquet(spark, dir, bloomCols = Seq("doc_id"))
    val m1 = SnapshotStore.manifest(spark, dir, 1L)
    assert(m1.stats.values.forall(_.blooms("doc_id").sidecar.nonEmpty),
      "convert records sidecar-backed blooms too")
    // a few appends, then vacuum down to the last 2 versions
    (1 to 3).foreach(i => SnapshotStore.commitAppend(spark, dir,
      Seq((9000L + i, s"a$i")).toDF("doc_id", "text"), "append"))
    SnapshotStore.vacuum(spark, dir, retain = 2)
    SnapshotStore.clearManifestCacheForTest()
    SnapshotStore.clearSidecarBloomCacheForTest()
    val latest = SnapshotStore.latestVersion(spark, dir).get
    // the convert sidecar (version dir v1 holds ONLY `_blooms`) survived
    // and still prunes the shuffled layout
    val kept = SnapshotStore.prunedFiles(spark, dir, latest,
      EqTo("doc_id", 77L)).filter(m1.files.toSet)
    assert(kept.length <= 2,
      s"the retained convert sidecar must still prune: ${kept.length} of 4")
    assert(SnapshotStore.readAsOfWhere(spark, dir, latest,
      EqTo("doc_id", 77L)).count() == 1L)
    // now FULLY REWRITE the table: prior version dirs (and their
    // sidecars) become unreferenced and vacuum reclaims them
    SnapshotStore.compact(spark, dir)
    SnapshotStore.vacuum(spark, dir, retain = 1)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val survivors = f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).toSet
    assert(survivors.forall(_.contains("compact")),
      s"pre-rewrite version dirs (sidecars included) must reclaim: $survivors")
    // the compacted state re-recorded blooms in ITS OWN sidecar
    val mEnd = SnapshotStore.manifest(spark, dir,
      SnapshotStore.latestVersion(spark, dir).get)
    assert(mEnd.stats.values.forall(_.blooms("doc_id").sidecar.nonEmpty))
    assert(SnapshotStore.read(spark, dir).count() == 803L)
  }
}
