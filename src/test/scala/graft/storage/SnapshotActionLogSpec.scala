package graft.storage

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Contract of the INCREMENTAL action log + periodic checkpoints
  * (round 17 — the Delta add/remove-action model):
  *
  *  - commit bytes scale with the CHANGED files, never the table's
  *    accumulated file count (the bounded-commit-bytes fence);
  *  - every retained version reconstructs identically from a checkpoint
  *    or from pure action replay (checkpoints are acceleration, never
  *    state) — torn/corrupt/missing checkpoints degrade, never corrupt;
  *  - vacuum pins a strict replay base at the earliest retained version
  *    before history drops, so a post-vacuum log whose oldest entry is
  *    an action delta still reconstructs.
  */
class SnapshotActionLogSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapactlog").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def frame(lo: Int, hi: Int) =
    spark.sparkContext.parallelize(lo to hi, 2).toDF("id")
      .withColumn("grp", pmod(col("id"), lit(5)))
      .withColumn("txt", concat(lit("row-"), col("id")))

  private def logSize(dir: String, v: Long): Long = {
    val p = new Path(f"$dir/_manifests/v$v%08d.json")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getLen
  }

  private def ckptPath(dir: String, v: Long): Path =
    new Path(f"$dir/_manifests/v$v%08d.ckpt.json")

  /** a mixed-operation chain long enough to cross two checkpoint
    * boundaries: ingest, appends, CoW delete, DV delete, merge, zorder,
    * restore — every delta shape the encoding must carry */
  private def buildMixedChain(dir: String): Long = {
    val store = SnapshotStore
    store.commit(spark, dir, frame(1, 100), "ingest")
    (1 to 8).foreach(i => store.commitAppend(spark, dir,
      frame(100 + i * 50, 149 + i * 50), s"append-$i"))          // v2..v9
    store.deleteWhere(spark, dir,
      SnapshotStore.FilePredicate.between("id", 30L, 60L))        // v10 (+ckpt)
    store.deleteWhereDv(spark, dir,
      SnapshotStore.FilePredicate.between("id", 200L, 205L))      // v11
    store.merge(spark, dir,
      frame(90, 110).withColumn("txt", lit("merged")), Seq("id")) // v12
    store.clusterN(spark, dir, Seq("id", "grp"), nFiles = 4)      // v13
    store.restore(spark, dir, 11L)                                // v14
    (1 to 7).foreach(i => store.commitAppend(spark, dir,
      frame(1000 + i * 10, 1009 + i * 10), s"tail-$i"))           // v15..v21
    store.latestVersion(spark, dir).get
  }

  test("commit log bytes scale with the CHANGED files, not the table: " +
    "a late small append's entry stays flat while the table grows") {
    val dir = freshDir()
    val store = SnapshotStore
    // 25 identical-shape small appends — table file count grows 25x,
    // per-commit change stays constant
    store.commit(spark, dir, frame(1, 40).repartition(4), "ingest")
    (2L to 25L).foreach(v => store.commitAppend(spark, dir,
      frame(v.toInt * 100, v.toInt * 100 + 39).repartition(4), s"append-$v"))
    val early = logSize(dir, 3L)
    val late = logSize(dir, 25L)
    assert(late <= early * 2,
      s"late append entry ($late B) must not grow with table files " +
        s"(early entry $early B) — the O(commits x files) log is back")
    // while the CHECKPOINT's PARQUET parts (full state) do grow with the
    // table — the amortized O(table)/interval cost the model accepts —
    // its HEADER document stays small (bytes independent of file count:
    // the round-18 multi-part encoding)
    val fs = ckptPath(dir, 20L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(ckptPath(dir, 20L)),
      "interval checkpoint header must exist at v20")
    val dataDir = SnapshotStore.checkpointDataPath(dir, 20L)
    assert(fs.exists(dataDir), "checkpoint parquet parts must exist at v20")
    val partsLen = fs.listStatus(dataDir)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    assert(partsLen > late,
      s"checkpoint parts ($partsLen B) hold full state; the delta " +
        s"($late B) holds only the change — sizes must reflect that")
    val hdr10 = fs.getFileStatus(ckptPath(dir, 10L)).getLen
    val hdr20 = fs.getFileStatus(ckptPath(dir, 20L)).getLen
    assert(hdr20 < 4096,
      s"checkpoint header must stay small (got $hdr20 B) — the file " +
        "list lives in the parquet parts, never the header document")
    assert(math.abs(hdr20 - hdr10) < 256,
      s"header bytes must not grow with table files (v10: $hdr10 B, " +
        s"v20 with 2x the files: $hdr20 B)")
    // the first commit's entry is the delta from the empty table: it
    // adds every file the table starts with
    assert(store.changedFiles(spark, dir, 0L, 1L) ==
      store.manifest(spark, dir, 1L).files,
      "v1's delta must add the whole initial table")
  }

  test("every version reconstructs IDENTICALLY from checkpoints and from " +
    "pure action replay (checkpoints deleted) — including across " +
    "delete/DV/merge/zorder/restore deltas") {
    val dir = freshDir()
    val latest = buildMixedChain(dir)
    val store = SnapshotStore
    val withCkpt = (1L to latest).map(v => store.manifest(spark, dir, v))
    // delete EVERY checkpoint: reconstruction must fall back to replay
    val fs = ckptPath(dir, 10L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1L to latest).foreach(v => fs.delete(ckptPath(dir, v), false))
    // the manifest cache would serve the first pass's states — clear it
    // so reconstruction REALLY replays the action log
    SnapshotStore.clearManifestCacheForTest()
    val replayed = (1L to latest).map(v => store.manifest(spark, dir, v))
    withCkpt.zip(replayed).foreach { case (a, b) =>
      assert(a == b, s"v${a.version}: checkpoint and replay disagree")
    }
    // and the reconstructed states answer reads correctly across ops
    assert(store.readAsOf(spark, dir, latest).count() ==
      store.readAsOf(spark, dir, 11L).count() + 70,
      "restore(11) + 7x10-row tail appends")
    val v11 = store.readAsOf(spark, dir, 11L)
    assert(v11.filter(col("id").between(200, 205)).count() == 0,
      "the DV delete's masks survive reconstruction")
    assert(v11.filter(col("id").between(30, 60)).count() == 0,
      "the CoW delete survives reconstruction")
  }

  test("a TORN checkpoint is skipped (replay walks further back), never " +
    "served or fatal") {
    val dir = freshDir()
    val latest = buildMixedChain(dir)
    val store = SnapshotStore
    val expected = (1L to latest).map(v => store.manifest(spark, dir, v))
    val fs = ckptPath(dir, 10L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // corrupt v10's checkpoint (truncated write), garbage into v20's
    val out10 = fs.create(ckptPath(dir, 10L), true)
    out10.write("""{"version":10,"operation":"tor""".getBytes("UTF-8"))
    out10.close()
    val out20 = fs.create(ckptPath(dir, 20L), true)
    out20.write("not json at all".getBytes("UTF-8"))
    out20.close()
    SnapshotStore.clearManifestCacheForTest() // force real reconstruction
    val again = (1L to latest).map(v => store.manifest(spark, dir, v))
    expected.zip(again).foreach { case (a, b) =>
      assert(a == b, s"v${a.version}: torn checkpoint changed the state")
    }
  }

  test("a torn PARQUET checkpoint — header without parts, or a " +
    "part-count mismatch — is skipped, never served or fatal") {
    val dir = freshDir()
    val latest = buildMixedChain(dir)
    val store = SnapshotStore
    val expected = (1L to latest).map(v => store.manifest(spark, dir, v))
    val fs = ckptPath(dir, 10L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // v10: header survives, parquet parts torn away entirely
    fs.delete(SnapshotStore.checkpointDataPath(dir, 10L), true)
    // v20: duplicate a part INTO the data dir — rows no longer match the
    // header's recorded entry count (a torn/duplicated write)
    val d20 = SnapshotStore.checkpointDataPath(dir, 20L)
    val part = fs.listStatus(d20)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
      new Path(d20, "part-extra.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    SnapshotStore.clearManifestCacheForTest() // force real reconstruction
    val again = (1L to latest).map(v => store.manifest(spark, dir, v))
    expected.zip(again).foreach { case (a, b) =>
      assert(a == b, s"v${a.version}: torn parquet checkpoint changed " +
        "the state")
    }
  }

  test("a non-parquet checkpoint header is skipped and the manifest " +
    "reconstructs by replay, identical to the parquet-checkpointed one") {
    val dir = freshDir()
    val latest = buildMixedChain(dir)
    val store = SnapshotStore
    val expected = (1L to latest).map(v => store.manifest(spark, dir, v))
    assert(store.readCheckpointForTest(spark, dir, 10L)
      .contains(expected(9)), "parquet checkpoint reads its state")
    // overwrite v10's header with a single JSON document listing the
    // very same files — a format no checkpoint writer emits
    val fs = ckptPath(dir, 10L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(SnapshotStore.checkpointDataPath(dir, 10L), true)
    val listed = expected(9).files.map(f => "\"" + f + "\"").mkString(",")
    val out = fs.create(ckptPath(dir, 10L), true)
    try out.write(s"""{"version":10,"files":[$listed]}""".getBytes("UTF-8"))
    finally out.close()
    assert(store.readCheckpointForTest(spark, dir, 10L).isEmpty,
      "a header that is not format: parquet must count as unreadable")
    SnapshotStore.clearManifestCacheForTest() // force real reconstruction
    val again = (1L to latest).map(v => store.manifest(spark, dir, v))
    expected.zip(again).foreach { case (a, b) =>
      assert(a == b, s"v${a.version}: replay past the skipped checkpoint " +
        "changed the state")
    }
  }

  test("checkpoint header bytes are independent of file count, the " +
    "parts split multi-part past the rows-per-part bound, and the round " +
    "trip is exact — on a synthesized many-file manifest (no data files)") {
    val dir = freshDir()
    val store = SnapshotStore
    val fs = ckptPath(dir, 1L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def synth(v: Long, n: Int): SnapshotStore.Manifest = {
      val files = (0 until n).map(i => f"$dir/data/v$v%08d-x/part-$i%06d.parquet")
      // a bloom sidecar POINTER (one of two sidecar paths) rides every
      // 10th file: the round-trip below pins the pointer columns exactly
      // across the multi-part split
      SnapshotStore.Manifest(v, "synth", files,
        stats = files.zipWithIndex.map { case (f0, i) =>
          f0 -> SnapshotStore.FileStats(100L + i,
            Map("id" -> SnapshotStore.ColStats("bigint",
              Some(i.toLong), Some(i + 99L), Some(0L))), 4096L + i,
            blooms = if (i % 10 == 0)
              Map("id" -> SnapshotStore.BloomStats("bigint",
                f"$dir/data/v$v%08d-x/_blooms/${i % 20}", i.toLong / 10))
            else Map.empty)
        }.toMap,
        schema = ManifestFixtures.Schema,
        ts = 1000L + v)
    }
    val small = synth(1L, 100)
    val big = synth(2L, SnapshotStore.CkptRowsPerPart + 1)
    store.writeCheckpointForTest(spark, dir, small)
    store.writeCheckpointForTest(spark, dir, big)
    val hdrSmall = fs.getFileStatus(ckptPath(dir, 1L)).getLen
    val hdrBig = fs.getFileStatus(ckptPath(dir, 2L)).getLen
    assert(hdrBig < 2048 && math.abs(hdrBig - hdrSmall) < 64,
      s"header bytes must not scale with files ($hdrSmall B @100 files " +
        s"vs $hdrBig B @${SnapshotStore.CkptRowsPerPart + 1} files)")
    val parts = fs.listStatus(SnapshotStore.checkpointDataPath(dir, 2L))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(parts >= 2,
      s"a ${SnapshotStore.CkptRowsPerPart + 1}-file state must split " +
        s"into multiple parquet parts, got $parts")
    assert(store.readCheckpointForTest(spark, dir, 1L).contains(small) &&
      store.readCheckpointForTest(spark, dir, 2L).contains(big),
      "both encodings round-trip exactly")
  }

  test("vacuum pins a strict replay base at the earliest retained " +
    "version: a post-vacuum log whose oldest entries were action deltas " +
    "still reconstructs, reads, and time-travels") {
    val dir = freshDir()
    val latest = buildMixedChain(dir) // 21 versions; v15..v21 are deltas
    val store = SnapshotStore
    val expect = (16L to latest).map(v =>
      store.readAsOf(spark, dir, v).count())
    store.vacuum(spark, dir, retain = 6) // keep v16..v21 — ALL deltas
    val fs = ckptPath(dir, 16L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(ckptPath(dir, 16L)),
      "vacuum must pin a checkpoint at the new replay base v16")
    assert(!fs.exists(ckptPath(dir, 10L)),
      "dropped versions' checkpoints are reclaimed")
    (16L to latest).zip(expect).foreach { case (v, n) =>
      assert(store.readAsOf(spark, dir, v).count() == n,
        s"v$v must read identically after the vacuum re-base")
    }
    intercept[IllegalArgumentException](store.manifest(spark, dir, 15L))
  }

  test("a crash MID-VACUUM leaves every still-listed version " +
    "reconstructable: the sweep deletes DESCENDING, so the surviving " +
    "dropped-zone entries are a prefix that replays from the empty " +
    "table") {
    val dir = freshDir()
    val latest = buildMixedChain(dir) // 21 versions
    val store = SnapshotStore
    // crash after three deletions: the sweep must have taken the three
    // NEWEST dropped versions first, leaving the prefix [1..k]
    val dropped = scala.collection.mutable.ArrayBuffer.empty[Long]
    store.onVacuumDropForTest = { v =>
      if (dropped.length == 3) sys.error("simulated crash mid-vacuum")
      dropped += v
    }
    try intercept[RuntimeException](store.vacuum(spark, dir, retain = 4))
    finally store.onVacuumDropForTest = _ => ()
    assert(dropped.toSeq == Seq(17L, 16L, 15L),
      s"vacuum must sweep dropped versions newest-first, got $dropped")
    val listed = store.versions(spark, dir)
    assert(listed == ((1L to 14L) ++ (18L to latest)),
      s"the torn sweep leaves prefix + retained suffix, got $listed")
    // EVERY listed version still reconstructs and reads — including
    // through the versions()-driven surfaces (history spans the gap)
    listed.foreach(v => store.readAsOf(spark, dir, v).count())
    val hist = store.history(spark, dir).select("version")
      .collect().map(_.getLong(0)).toSeq
    assert(hist == listed)
    // a re-run completes the sweep and the table is fully healthy
    store.vacuum(spark, dir, retain = 4)
    assert(store.versions(spark, dir) == (18L to latest))
    store.read(spark, dir).count()
  }

  test("DESCRIBE HISTORY LIMIT n reads O(n + interval) log entries, " +
    "newest-first bounded, and matches the unlimited tail") {
    val dir = freshDir()
    val store = SnapshotStore
    store.commit(spark, dir, frame(1, 20), "ingest")
    (2L to 40L).foreach(v => store.commitAppend(spark, dir,
      frame(v.toInt * 100, v.toInt * 100 + 9), s"append-$v"))
    val full = store.history(spark, dir).collect()
    val mr0 = SnapshotStore.manifestReadCount.get()
    val limited = store.history(spark, dir, limit = Some(5)).collect()
    val reads = SnapshotStore.manifestReadCount.get() - mr0
    assert(limited.toSeq == full.takeRight(5).toSeq,
      "LIMIT n must be exactly the newest n rows of the full history")
    assert(reads <= 5 + SnapshotStore.CheckpointInterval + 2,
      s"LIMIT 5 on a 40-commit log read $reads entries — the collect " +
        "must stop at n + one walk-back, not load the whole log")
  }

  test("the manifest cache: a repeated reconstruction reads ZERO log " +
    "entries, and a table deleted and recreated at the same path can " +
    "never serve the stale state (file-status validation)") {
    val dir = freshDir()
    val store = SnapshotStore
    store.commit(spark, dir, frame(1, 100).repartition(3), "ingest")
    (2L to 5L).foreach(v => store.commitAppend(spark, dir,
      frame(v.toInt * 100, v.toInt * 100 + 9), s"append-$v"))
    store.clearManifestCacheForTest()
    val m5 = store.manifest(spark, dir, 5L) // cold: reconstructs
    val mr0 = SnapshotStore.manifestReadCount.get()
    val m5b = store.manifest(spark, dir, 5L) // warm: cache hit
    assert(SnapshotStore.manifestReadCount.get() == mr0,
      "a validated cache hit must open zero manifest/checkpoint files")
    assert(m5b == m5)
    // recreate the table at the SAME path: the new v1's state must win
    val fs = ckptPath(dir, 1L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    store.manifest(spark, dir, 1L) // prime the cache with the OLD v1
    fs.delete(new Path(dir), true)
    store.commit(spark, dir, frame(1, 7).repartition(1), "ingest")
    val fresh = store.manifest(spark, dir, 1L)
    assert(fresh.files.length == 1 &&
      store.readAsOf(spark, dir, 1L).count() == 7L,
      "the recreated table's v1 must never be served from the stale cache")
    // and a vacuumed version refuses even if it was cached
    (2L to 4L).foreach(v => store.commitAppend(spark, dir,
      frame(v.toInt * 10, v.toInt * 10 + 4), s"append-$v"))
    store.manifest(spark, dir, 2L) // prime
    store.vacuum(spark, dir, retain = 2)
    intercept[IllegalArgumentException](store.manifest(spark, dir, 2L))
  }
}
