package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of the DISTRIBUTED (state-as-DataFrame) pruning path
  * (round 19 — the Delta Snapshot shape, scoped to reads): a selective
  * read over a parquet-checkpointed table evaluates the file predicate
  * INSIDE a distributed scan of the checkpoint parts and materializes
  * only the SURVIVING entries on the driver; answers and pruned sets
  * match the in-memory manifest path exactly; versions without a
  * parquet-checkpoint base (and torn checkpoints) fall back to the
  * in-memory path transparently. */
class SnapshotDistributedPruneSpec extends SparkSpec {

  import spark.implicits._
  import SnapshotStore.FilePredicate._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapdistprune").toFile
    d.delete()
    d.getAbsolutePath
  }

  test("a synthesized 100k-entry checkpoint: selective pruning " +
    "materializes ONLY survivors on the driver, with exact parity " +
    "against the in-memory path") {
    val dir = freshDir()
    val n = 100000
    // 100k fake file entries with DISJOINT id ranges: file i holds ids
    // [10i, 10i+9] — a narrow range predicate has few survivors
    val files = (0 until n).map(i => f"/fake/base/part-$i%06d.parquet")
    val stats = files.zipWithIndex.map { case (f, i) =>
      f -> SnapshotStore.FileStats(10L, Map(
        "id" -> SnapshotStore.ColStats("bigint",
          Some(i * 10L), Some(i * 10L + 9L), Some(0L))), 1024L)
    }.toMap
    val m = SnapshotStore.Manifest(1L, "ingest", files, stats,
      ManifestFixtures.Schema, ts = 1000L)
    SnapshotStore.writeCheckpointForTest(spark, dir, m)
    val pred = between("id", 555000L, 555990L) // ~100 of 100k files
    val distributed = SnapshotStore.prunedFilesDistributed(spark, dir, 1L, pred)
    val (scanned, materialized) = SnapshotStore.lastDistributedPrune
    assert(scanned == n.toLong, s"all $n entries must scan distributed")
    assert(distributed.nonEmpty && distributed.length <= 101,
      s"narrow range must survive ~100 files, got ${distributed.length}")
    assert(materialized <= distributed.length + 1L,
      s"the driver must hold only survivors: materialized $materialized " +
        s"for ${distributed.length} survivors")
    // exact parity with the in-memory manifest path
    val inMemory = SnapshotStore.prunedFiles(spark, dir, 1L, pred)
    assert(distributed == inMemory, "pruned-set parity with in-memory")
    // a no-match predicate: zero materialized, empty both ways
    assert(SnapshotStore.prunedFilesDistributed(spark, dir, 1L,
      EqTo("id", 99999999L)).isEmpty)
    assert(SnapshotStore.lastDistributedPrune._2 == 0L,
      "a no-match probe materializes NOTHING on the driver")
  }

  test("end-to-end on a real table: checkpoint base + delta tail + " +
    "deletion vectors + sidecar blooms — reads and pruned sets match " +
    "the in-memory path") {
    val dir = freshDir()
    // 12 commits: parquet checkpoint at v10, deltas 11..12 on top
    SnapshotStore.commit(spark, dir,
      (1L to 2000L).map(i => (i, s"body $i")).toDF("doc_id", "text")
        .withColumn("s", pmod(hash(col("doc_id")), lit(8)))
        .repartitionByRange(8, col("s")).drop("s"),
      "ingest", bloomCols = Seq("doc_id"))
    (1 to 9).foreach(i => SnapshotStore.commitAppend(spark, dir,
      Seq((10000L + i, s"a$i")).toDF("doc_id", "text"), "append"))
    SnapshotStore.commitAppend(spark, dir,
      Seq((20001L, "tail1"), (20002L, "tail2")).toDF("doc_id", "text"),
      "append")
    SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 777L))
    val v = SnapshotStore.latestVersion(spark, dir).get
    assert(v == 12L)
    // point lookup through the distributed path: DV applied, exact
    assert(SnapshotStore.readAsOfWhereDistributed(spark, dir, v,
      EqTo("doc_id", 778L)).select("text").as[String].head() == "body 778")
    assert(SnapshotStore.readAsOfWhereDistributed(spark, dir, v,
      EqTo("doc_id", 777L)).count() == 0L, "the DV-deleted row stays gone")
    // a file added by the TAIL deltas (after the checkpoint base)
    assert(SnapshotStore.readAsOfWhereDistributed(spark, dir, v,
      EqTo("doc_id", 20002L)).select("text").as[String].head() == "tail2")
    // pruned-set parity across predicate shapes
    Seq(EqTo("doc_id", 778L), between("doc_id", 100L, 200L),
      InSet("doc_id", Seq(5L, 10001L, 20001L)),
      Or(EqTo("doc_id", 3L), GtEq("doc_id", 20000L))).foreach { p =>
      assert(
        SnapshotStore.prunedFilesDistributed(spark, dir, v, p).toSet ==
          SnapshotStore.prunedFiles(spark, dir, v, p).toSet,
        s"parity under $p")
    }
    // full-content parity on a wider slice
    val a = SnapshotStore.readAsOfWhereDistributed(spark, dir, v,
      between("doc_id", 1L, 500L)).select("doc_id").as[Long].collect().toSet
    val b = SnapshotStore.readAsOfWhere(spark, dir, v,
      between("doc_id", 1L, 500L)).select("doc_id").as[Long].collect().toSet
    assert(a == b && a.size == 500, "same rows either path")
    // and the DELETED id's slice agrees too (DV applied both ways)
    val a2 = SnapshotStore.readAsOfWhereDistributed(spark, dir, v,
      between("doc_id", 770L, 780L)).select("doc_id").as[Long].collect().toSet
    assert(a2 == (770L to 780L).toSet - 777L, "DV masks ride the synthetic manifest")
  }

  test("fallback transparency: no parquet checkpoint (young table) and " +
    "a TORN checkpoint both serve the same answers via the in-memory path") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")), "ingest")
    SnapshotStore.commitAppend(spark, dir,
      Seq((200L, "x")).toDF("doc_id", "text"), "append")
    // v2 has no checkpoint anywhere below it — its state replays from
    // the empty table — and the distributed call must still answer exactly
    assert(SnapshotStore.prunedFilesDistributed(spark, dir, 2L,
      EqTo("doc_id", 50L)) ==
      SnapshotStore.prunedFiles(spark, dir, 2L, EqTo("doc_id", 50L)))
    assert(SnapshotStore.readAsOfWhereDistributed(spark, dir, 2L,
      EqTo("doc_id", 200L)).count() == 1L)

    // torn checkpoint: fabricate one, then delete a data part
    val dir2 = freshDir()
    SnapshotStore.commit(spark, dir2,
      (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")), "ingest")
    val m1 = SnapshotStore.manifest(spark, dir2, 1L)
    SnapshotStore.writeCheckpointForTest(spark, dir2, m1)
    val ckptData = SnapshotStore.checkpointDataPath(dir2, 1L)
    val f = ckptData.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = f.listStatus(ckptData).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    f.delete(part, false)
    SnapshotStore.clearManifestCacheForTest()
    // both paths detect the tear and serve by replaying the log
    assert(SnapshotStore.prunedFilesDistributed(spark, dir2, 1L,
      EqTo("doc_id", 50L)).nonEmpty)
    assert(SnapshotStore.readAsOfWhereDistributed(spark, dir2, 1L,
      between("doc_id", 1L, 100L)).count() == 100L)
  }
}
