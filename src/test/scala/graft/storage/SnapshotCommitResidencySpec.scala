package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of BOUNDED commit-side driver residency (round 20): an
  * APPEND against a large table stages off the prior commit's HEADER —
  * one small read for schema/layout/dv-map/properties — and renders
  * its adds-only action delta directly, so the driver materializes
  * O(new files) entries, never the table's. Fenced on
  * [[SnapshotStore.lastCommitDriverEntries]] against a synthesized
  * 100k-entry table; reconstruction (the read path) still folds the
  * full state, and identity/defaults/constraints all keep firing off
  * the header. */
class SnapshotCommitResidencySpec extends SparkSpec {

  import spark.implicits._

  private val store = SnapshotStore

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapresid").toFile
    d.delete()
    d.getAbsolutePath
  }

  test("an append against a 100k-entry table materializes O(new files) " +
    "driver entries; the delta-encoded steady state stays bounded; " +
    "reads still reconstruct the full state") {
    val dir = freshDir()
    store.commit(spark, dir,
      Seq((1L, "real")).toDF("id", "txt"), "ingest")               // v1
    // synthesize a v2 whose delta adds 100k entries (the spec seam the
    // 1,000-commit checkpoint spec uses) — fake paths are never read;
    // only the ENTRY COUNT matters here
    val m1 = store.manifest(spark, dir, 1L)
    val bigFiles = (1 to 100000).map(i => s"$dir/data/fake/part-$i.parquet")
    store.writeManifestForTest(spark, dir,
      m1.copy(version = 2L, operation = "synthetic",
        files = m1.files ++ bigFiles,
        stats = m1.stats ++ ManifestFixtures.stats(bigFiles),
        ts = m1.ts + 1), m1)
    assert(store.latestVersion(spark, dir).contains(2L))
    // append 1: the prior is the 100k-add delta commit — its header
    // parse is transient; the COMMIT path must retain only
    // the new files
    store.commitAppend(spark, dir,
      Seq((2L, "a")).toDF("id", "txt"), "append")                  // v3
    val held1 = store.lastCommitDriverEntries
    assert(held1 >= 0L && held1 <= 4L,
      s"the bounded append must hold O(new files) entries, held $held1")
    // append 2: steady state — the prior log entry is now a SMALL
    // adds-only delta
    store.commitAppend(spark, dir,
      Seq((3L, "b")).toDF("id", "txt"), "append")                  // v4
    val held2 = store.lastCommitDriverEntries
    assert(held2 >= 0L && held2 <= 4L, s"steady-state append held $held2")
    // the read path still reconstructs the FULL state (append chain
    // over the synthetic base)
    val m4 = store.manifest(spark, dir, 4L)
    assert(m4.files.size == m1.files.size + 100000 + 2,
      s"reconstruction folds the full list: ${m4.files.size}")
    assert(m4.operation == "append")
    // the CoW DML tier is bounded too (round 20): a narrow delete holds
    // only its rewritten files; an EAGER stage (metadata DDL, which
    // carries the full list by design) still measurably materializes —
    // the fence distinguishes the modes
    val dir2 = freshDir()
    store.commit(spark, dir2,
      (1L to 100L).map(i => (i, s"d$i")).toDF("id", "txt")
        .repartitionByRange(4, col("id")), "ingest")
    store.deleteWhere(spark, dir2, SnapshotStore.FilePredicate.EqTo("id", 5L))
    assert(store.lastCommitDriverEntries <= 2L,
      "a narrow CoW delete holds its rewrites only " +
        s"(${store.lastCommitDriverEntries})")
    store.setTableProperties(spark, dir2, Map("user.note" -> "x"))
    assert(store.lastCommitDriverEntries >= 4L,
      "an eager metadata stage carries the full list " +
        s"(${store.lastCommitDriverEntries})")
  }

  test("a narrow DV delete against a 100k-entry CHECKPOINTED table is " +
    "bounded end-to-end: touched selection through the distributed " +
    "prune, zero carried entries, header-carried dv map") {
    val dir = freshDir()
    store.commit(spark, dir,
      (1L to 100L).map(i => (i, s"d$i")).toDF("id", "txt")
        .repartitionByRange(4, col("id")), "ingest")               // v1
    val m1 = store.manifest(spark, dir, 1L)
    // synthetic 100k cold entries whose id stats EXCLUDE the probe
    // range — pruning must keep only the real file, and the fakes are
    // never read
    val fakeStats = (1 to 100000).map { i =>
      val f = s"$dir/data/fake/part-$i.parquet"
      f -> SnapshotStore.FileStats(1L,
        Map("id" -> SnapshotStore.ColStats("bigint",
          Some(1000000L + i), Some(1000000L + i), Some(0L))), 10L)
    }
    val m2 = m1.copy(version = 2L, operation = "synthetic",
      files = m1.files ++ fakeStats.map(_._1),
      stats = m1.stats ++ fakeStats, ts = m1.ts + 1)
    store.writeManifestForTest(spark, dir, m2, m1)
    store.writeCheckpointForTest(spark, dir, m2)                   // parquet
    store.deleteWhereDv(spark, dir,
      SnapshotStore.FilePredicate.EqTo("id", 5L))                  // v3
    assert(store.lastCommitDriverEntries == 0L,
      s"a DV delete carries nothing and adds nothing: " +
        s"${store.lastCommitDriverEntries}")
    val m3 = store.manifest(spark, dir, 3L)
    assert(m3.files.size == 100004 && m3.dvs.size == 1,
      s"full state intact, one new vector: ${m3.files.size}/${m3.dvs.size}")
    // correctness through the survivors-only read path
    assert(store.readAsOfWhereDistributed(spark, dir, 3L,
      SnapshotStore.FilePredicate.EqTo("id", 5L)).count() == 0L)
    assert(store.readAsOfWhereDistributed(spark, dir, 3L,
      SnapshotStore.FilePredicate.EqTo("id", 6L)).count() == 1L)
  }

  test("the bounded append keeps every header-driven behavior: identity " +
    "allocation, generated defaults, CHECK constraints, dv carry, and " +
    "schema evolution — all off the header") {
    val dir = freshDir()
    store.commit(spark, dir,
      (1L to 50L).map(i => (i, s"d$i", i % 10)).toDF("id", "txt", "n")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      "ingest",
      tblProperties = Map(
        "graft.identity.rid" -> "0,1",
        "graft.generated.bucket" -> "n % 4",
        "graft.constraints.pos" -> "n >= 0"))                      // v1
    store.deleteWhereDv(spark, dir,
      SnapshotStore.FilePredicate.EqTo("id", 7L))                  // v2
    // bounded append: identity continues, default computes, CHECK gates
    store.commitAppend(spark, dir,
      Seq((51L, "x", 3L)).toDF("id", "txt", "n"), "append")        // v3
    assert(store.lastCommitDriverEntries <= 4L)
    val rows = store.read(spark, dir)
    assert(rows.count() == 50L, "the carried deletion vector still masks")
    assert(rows.filter(col("id") === 51L).select("bucket")
      .as[Long].head() == 3L, "the generated default computed")
    val rids = rows.select("rid").as[Long].collect().sorted
    assert(rids.toSeq == (0L until 51L).filterNot(_ == 6L) ,
      s"identity dense across commits minus the DV-deleted row")
    // the CHECK still refuses
    val e = intercept[SnapshotStore.ConstraintViolationException](
      store.commitAppend(spark, dir,
        Seq((52L, "y", -1L)).toDF("id", "txt", "n"), "append"))
    assert(e.getMessage.contains("pos"))
    // schema evolution through the bounded path
    store.commitAppend(spark, dir,
      Seq((53L, "z", 1L, true)).toDF("id", "txt", "n", "flag"), "append")
    assert(store.read(spark, dir).columns.contains("flag"))
  }
}
