package graft.storage

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Contract of merge-on-read DELETION VECTORS
  * ([[SnapshotStore.deleteWhereDv]]): a point delete writes O(marked
  * positions) bytes instead of rewriting 128 MB files, every reader face
  * applies the vectors, chained deletes fold into one vector per file,
  * and any rewrite (compaction, CoW mutation) materializes them away —
  * with answers equal to the copy-on-write path at every step. */
class SnapshotDvSpec extends SparkSpec {

  import spark.implicits._
  import SnapshotStore.FilePredicate._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapdv").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def seed(dir: String, n: Long = 400L): Unit =
    SnapshotStore.commit(spark, dir,
      (1L to n).map(i => (i, s"t$i", (i % 5).toDouble))
        .toDF("doc_id", "text", "score")
        .repartitionByRange(8, col("doc_id")), "ingest")

  test("a 1-row DV delete carries EVERY data file and writes only vector bytes (write amplification O(marks), not O(file))") {
    val dir = freshDir()
    seed(dir)
    val before = SnapshotStore.manifest(spark, dir, 1L)
    val dataBytes = before.stats.values.map(_.bytes).sum
    val v = SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 123L))
    assert(v == 2L)
    val after = SnapshotStore.manifest(spark, dir, 2L)
    assert(after.operation == "delete-dv")
    assert(after.files == before.files,
      "a DV delete must carry every data file untouched")
    assert(after.stats == before.stats, "stats carry verbatim")
    // exactly one file gained a vector, masking exactly one position
    assert(after.dvs.size == 1 && after.dvs.values.head.rows == 1L)
    // the new version's data dir holds ONLY the hidden vector, and the
    // vector is tiny relative to the data it would have rewritten
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vdir = new Path(s"$dir/data/v00000002-delete-dv")
    val children = f.listStatus(vdir).map(_.getPath.getName).toSeq
    assert(children == Seq("_dv"), s"only the vector dir may exist: $children")
    val dvBytes = {
      val it = f.listFiles(vdir, true)
      var b = 0L
      while (it.hasNext) { val st = it.next(); if (st.isFile) b += st.getLen }
      b
    }
    assert(dvBytes > 0 && dvBytes < dataBytes / 4,
      s"vector bytes ($dvBytes) must be far under the data bytes ($dataBytes)")
    // and the read is exact
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet ==
      ((1L to 400L).toSet - 123L))
  }

  test("DV delete ≡ CoW delete ≡ plain filter, on every reader face (incl. stats-pruned reads and the Catalyst index)") {
    val dvDir = freshDir(); val cowDir = freshDir()
    seed(dvDir); seed(cowDir)
    val pred = And(between("doc_id", 90L, 110L), EqTo("score", 2.0))
    SnapshotStore.deleteWhereDv(spark, dvDir, pred)
    SnapshotStore.deleteWhere(spark, cowDir, pred)
    val expect = (1L to 400L).filterNot(i =>
      i >= 90 && i <= 110 && (i % 5).toDouble == 2.0).toSet
    assert(SnapshotStore.read(spark, dvDir)
      .select("doc_id").as[Long].collect().toSet == expect)
    assert(SnapshotStore.read(spark, cowDir)
      .select("doc_id").as[Long].collect().toSet == expect)
    // data skipping composes with vectors: pruned read + residual filter
    val q = between("doc_id", 80L, 120L)
    assert(SnapshotStore.readAsOfWhere(spark, dvDir, 2L, q)
      .select("doc_id").as[Long].collect().toSet ==
      SnapshotStore.readAsOfWhere(spark, cowDir, 2L, q)
        .select("doc_id").as[Long].collect().toSet)
    // the Catalyst-integrated face applies vectors over the pruned scan
    val (df, _) = SnapshotFileIndex.readAsOfTableWithIndex(spark, dvDir, 2L)
    assert(df.filter(col("doc_id").between(80L, 120L))
      .select("doc_id").as[Long].collect().toSet ==
      expect.filter(i => i >= 80 && i <= 120))
  }

  test("chained DV deletes FOLD into one vector per file; a CoW touch then materializes them away") {
    val dir = freshDir()
    // 4 range files of ~100 ids: 150 and 151 sit mid-file, away from any
    // range boundary, so both deletes touch the SAME file
    SnapshotStore.commit(spark, dir,
      (1L to 400L).map(i => (i, s"t$i", (i % 5).toDouble))
        .toDF("doc_id", "text", "score")
        .repartitionByRange(4, col("doc_id")), "ingest")
    SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 150L))
    SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 151L))
    val m3 = SnapshotStore.manifest(spark, dir, 3L)
    assert(m3.dvs.size == 1 && m3.dvs.values.head.rows == 2L,
      s"chained deletes must fold: ${m3.dvs.values}")
    assert(m3.dvs.values.head.path.contains("v00000003"),
      "the folded vector lives in the LATEST delete's commit")
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet ==
      ((1L to 400L).toSet -- Set(150L, 151L)))
    // a CoW delete touching the vectored file materializes its vector
    val v4 = SnapshotStore.deleteWhere(spark, dir, EqTo("doc_id", 152L))
    val m4 = SnapshotStore.manifest(spark, dir, v4)
    assert(m4.dvs.isEmpty,
      "the rewrite must read vector-applied and drop the vector")
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet ==
      ((1L to 400L).toSet -- Set(150L, 151L, 152L)))
  }

  test("a DV delete the stats prove matches nothing commits NO version; null-condition rows survive") {
    val dir = freshDir()
    seed(dir)
    assert(SnapshotStore.deleteWhereDv(spark, dir,
      EqTo("doc_id", 999999L)) == 1L)
    assert(SnapshotStore.latestVersion(spark, dir).contains(1L))
    // null semantics via the row-condition face
    val dir2 = freshDir()
    SnapshotStore.commit(spark, dir2,
      Seq((1L, Option("aa")), (2L, Option.empty[String]), (3L, Option("xyz")))
        .toDF("doc_id", "tag"), "ingest")
    SnapshotStore.deleteConditionDv(spark, dir2,
      length(col("tag")) === 3, None)
    assert(SnapshotStore.read(spark, dir2)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "a null condition keeps the row (SQL DELETE semantics)")
  }

  test("the row-grain CDF derives deletes from vectors exactly as from CoW") {
    val dvDir = freshDir(); val cowDir = freshDir()
    seed(dvDir, 50L); seed(cowDir, 50L)
    SnapshotStore.deleteWhereDv(spark, dvDir, between("doc_id", 10L, 12L))
    SnapshotStore.deleteWhere(spark, cowDir, between("doc_id", 10L, 12L))
    def cdf(dir: String) =
      SnapshotStore.readRowChanges(spark, dir, 1L, 2L, Seq("doc_id"))
        .select("doc_id", "_change_type").as[(Long, String)].collect().toSet
    assert(cdf(dvDir) == cdf(cowDir))
    assert(cdf(dvDir) == Set(10L, 11L, 12L).map(_ -> "delete"))
  }

  test("compaction materializes vectors; vacuum keeps referenced vector files and reclaims dropped ones") {
    val dir = freshDir()
    seed(dir)
    SnapshotStore.deleteWhereDv(spark, dir, between("doc_id", 50L, 60L))
    val expect = ((1L to 400L).toSet -- (50L to 60L))
    SnapshotStore.compact(spark, dir, targetFileBytes = 4L * 1024 * 1024)
    val m3 = SnapshotStore.manifest(spark, dir, 3L)
    assert(m3.dvs.isEmpty, "compaction must materialize vectors away")
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet == expect)
    // vacuum retaining the DV'd version keeps its vector file readable
    val dir2 = freshDir()
    seed(dir2)
    SnapshotStore.deleteWhereDv(spark, dir2, EqTo("doc_id", 7L))
    SnapshotStore.commitAppend(spark, dir2,
      Seq((9001L, "x", 0.0)).toDF("doc_id", "text", "score"), "append")
    SnapshotStore.vacuum(spark, dir2, retain = 2) // drops v1; v2 (dv) + v3 stay
    assert(SnapshotStore.readAsOf(spark, dir2, 2L)
      .select("doc_id").as[Long].collect().toSet == ((1L to 400L).toSet - 7L),
      "the retained DV'd version must still read after vacuum")
    assert(SnapshotStore.read(spark, dir2).count() == 400L)
    val f = new Path(dir2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the append CARRIED the vector, so even retain=1 keeps the
    // vector-only version dir alive — the retained manifest references it
    SnapshotStore.vacuum(spark, dir2, retain = 1)
    assert(f.exists(new Path(s"$dir2/data/v00000002-delete-dv")),
      "a vector the retained manifest references must survive vacuum")
    assert(SnapshotStore.read(spark, dir2).count() == 400L)
    // only once a compaction materializes the vector does the dir become
    // unreferenced — the next vacuum reclaims it
    SnapshotStore.compact(spark, dir2, targetFileBytes = 4L * 1024 * 1024)
    SnapshotStore.vacuum(spark, dir2, retain = 1)
    assert(!f.exists(new Path(s"$dir2/data/v00000002-delete-dv")),
      "an unreferenced vector-only version dir must vacuum away")
    assert(SnapshotStore.read(spark, dir2).count() == 400L)
  }

  test("DV deletes on a hive-partitioned table mask rows under their partition dirs") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "de", s"t$i"))
        .toDF("doc_id", "lang", "text"),
      "ingest", partitionBy = Seq("lang"))
    SnapshotStore.deleteWhereDv(spark, dir,
      And(EqTo("lang", "en"), between("doc_id", 100L, 120L)))
    val expect = (1L to 200L).filterNot(i =>
      i % 2 == 0 && i >= 100 && i <= 120).toSet
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet == expect)
    val m = SnapshotStore.manifest(spark, dir, 2L)
    assert(m.dvs.nonEmpty && m.dvs.keySet.forall(_.contains("lang=en")),
      "only the en partition's files may carry vectors")
  }

  test("restore and shallow clone carry deletion vectors; the SQL catalog face applies them through the post-hoc rule") {
    val dir = freshDir()
    seed(dir, 100L)
    SnapshotStore.deleteWhereDv(spark, dir, between("doc_id", 10L, 20L))
    SnapshotStore.deleteWhere(spark, dir, EqTo("doc_id", 99L)) // v3 materializes some
    SnapshotStore.restore(spark, dir, 2L)
    val expect2 = ((1L to 100L).toSet -- (10L to 20L))
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet == expect2,
      "restore must resurrect the DV'd state exactly")
    assert(SnapshotStore.manifest(spark, dir, 4L).dvs.nonEmpty)
    val clone = freshDir()
    SnapshotStore.cloneTable(spark, dir, 2L, clone)
    assert(SnapshotStore.read(spark, clone)
      .select("doc_id").as[Long].collect().toSet == expect2,
      "a shallow clone must reference the source's vectors")
    // the registered source + SQL table face (bare BaseRelation) gets
    // the overlay from SnapshotDvReadRule
    assert(spark.read.format("graft-snapshot").load(dir)
      .select("doc_id").as[Long].collect().toSet == expect2)
    val tbl = "dv_sql_face"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')")
    try {
      assert(spark.sql(s"SELECT doc_id FROM $tbl WHERE doc_id <= 30")
        .as[Long].collect().toSet == expect2.filter(_ <= 30),
        "SQL reads over a DV'd table must apply vectors")
      assert(spark.sql(s"SELECT count(*) AS n FROM $tbl").as[Long].head() ==
        expect2.size.toLong)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("merge after a DV delete respects vectors and materializes touched files") {
    val dir = freshDir()
    seed(dir, 100L)
    SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 50L))
    SnapshotStore.merge(spark, dir,
      Seq((49L, "updated", 9.0), (50L, "resurrected", 9.0))
        .toDF("doc_id", "text", "score"), Seq("doc_id"))
    val got = SnapshotStore.read(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got(49L) == "updated")
    assert(got(50L) == "resurrected", "a merge may re-insert a deleted key")
    assert(got.size == 100)
    assert(SnapshotStore.manifest(spark, dir, 3L).dvs.isEmpty,
      "the merge rewrite of the vectored file materializes its vector")
  }

  test("purgeVectors rewrites ONLY the vectored files; the change feed stays silent; SQL REORG TABLE ... APPLY (PURGE) speaks it") {
    val dir = freshDir()
    seed(dir)
    SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 123L))
    val m2 = SnapshotStore.manifest(spark, dir, 2L)
    val vectored = m2.files.filter(m2.dvs.contains).toSet
    assert(vectored.size == 1)
    val v3 = SnapshotStore.purgeVectors(spark, dir)
    val m3 = SnapshotStore.manifest(spark, dir, v3)
    assert(m3.operation == "purge" && m3.dvs.isEmpty)
    // every CLEAN file carried byte-identically; only the vectored one
    // rewrote
    assert((m2.files.toSet -- vectored).subsetOf(m3.files.toSet),
      "clean files must carry untouched")
    assert(m3.files.toSet.intersect(vectored).isEmpty,
      "the vectored file must be replaced")
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet ==
      ((1L to 400L).toSet - 123L))
    // content-neutral: the change feed surfaces nothing for the purge
    assert(SnapshotStore.changedFiles(spark, dir, 2L, v3).isEmpty)
    // idempotent: no vectors -> no new version
    assert(SnapshotStore.purgeVectors(spark, dir) == v3)
    // the SQL spelling
    val tbl = "dv_reorg"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')")
    try {
      SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 200L))
      val out = spark.sql(s"REORG TABLE $tbl APPLY (PURGE)").collect()
      assert(out.map(_.getLong(0)).toSeq == Seq(5L))
      assert(SnapshotStore.manifest(spark, dir, 5L).dvs.isEmpty)
      assert(SnapshotStore.read(spark, dir).count() == 398L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("SQL DELETE auto-dispatches: a point delete writes a vector, a wide delete rewrites copy-on-write, a no-match delete commits nothing") {
    val dir = freshDir()
    seed(dir)
    val tbl = "dv_auto"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')")
    try {
      spark.sql(s"DELETE FROM $tbl WHERE doc_id = 123")
      assert(SnapshotStore.manifest(spark, dir, 2L).operation == "delete-dv",
        "a 1-of-400 delete must take the vector path")
      spark.sql(s"DELETE FROM $tbl WHERE doc_id BETWEEN 200 AND 350")
      assert(SnapshotStore.manifest(spark, dir, 3L).operation == "delete",
        "a ~38% delete must take the copy-on-write path")
      // a condition matching NOTHING (but not stats-provably so) commits
      // no version — the measured count is a stronger short-circuit
      spark.sql(s"DELETE FROM $tbl WHERE doc_id = 180 AND text = 'nope'")
      assert(SnapshotStore.latestVersion(spark, dir).contains(3L))
      assert(SnapshotStore.read(spark, dir)
        .select("doc_id").as[Long].collect().toSet ==
        ((1L to 400L).toSet - 123L -- (200L to 350L)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("history reports LIVE rows (physical minus vector masks)") {
    val dir = freshDir()
    seed(dir, 100L)
    SnapshotStore.deleteWhereDv(spark, dir, between("doc_id", 1L, 10L))
    val rows = SnapshotStore.history(spark, dir)
      .select("version", "n_rows").as[(Long, Long)].collect().toMap
    assert(rows(1L) == 100L && rows(2L) == 90L)
  }

  test("a DV delete that would mask EVERY live row refuses (like CoW's " +
    "delete-everything) — never a table purge/compact can't retire") {
    val dir = freshDir()
    seed(dir, 50L)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.deleteWhereDv(spark, dir, GtEq("doc_id", 0L))
    }
    assert(e.getMessage.contains("mask every live row"))
    assert(SnapshotStore.versions(spark, dir) == Seq(1L),
      "the refused delete must commit nothing")
    // chained to the brink: mask all but one row, then the final row's
    // delete refuses too (the earlier vectors count)
    SnapshotStore.deleteWhereDv(spark, dir, between("doc_id", 2L, 50L))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 1L))
    }
    assert(e2.getMessage.contains("mask every live row"))
    assert(SnapshotStore.read(spark, dir).count() == 1L)
  }

  test("chained DV deletes do NOT copy a shared vector's entries for " +
    "UNTOUCHED files forward (no duplicate growth across folds)") {
    val dir = freshDir()
    // two files with disjoint id ranges via separate commits
    SnapshotStore.commit(spark, dir,
      (1L to 100L).map(i => (i, s"a$i")).toDF("doc_id", "text")
        .repartition(1), "ingest")
    SnapshotStore.commitAppend(spark, dir,
      (1000L to 1100L).map(i => (i, s"b$i")).toDF("doc_id", "text")
        .repartition(1), "append")
    // one SHARED vector masking rows in BOTH files
    SnapshotStore.deleteWhereDv(spark, dir,
      Or(between("doc_id", 10L, 14L), between("doc_id", 1010L, 1014L)))
    val m3pre = SnapshotStore.manifest(spark, dir, 3L)
    // second DV delete touches ONLY the low file (stats prune the high)
    SnapshotStore.deleteWhereDv(spark, dir, between("doc_id", 20L, 24L))
    val m = SnapshotStore.manifest(spark, dir, 4L)
    val lowFile = m.files.find(f =>
      m.stats(f).cols("doc_id").max.contains(100L)).get
    val highFile = m.files.find(f =>
      m.stats(f).cols("doc_id").min.contains(1000L)).get
    assert(m.dvs(lowFile).rows == 10L, "5 folded + 5 fresh marks")
    assert(m.dvs(highFile) == m3pre.dvs(highFile),
      "the untouched file must keep referencing the OLD shared vector")
    assert(m.dvs(lowFile).path != m.dvs(highFile).path)
    // the NEW vector file holds ONLY the touched file's entries — the
    // untouched file's 5 entries were filtered, not copied forward
    val newVec = spark.read.parquet(m.dvs(lowFile).path)
    assert(newVec.count() == 10L,
      s"new vector must hold exactly the folded+fresh marks of the " +
        s"touched file, found ${newVec.count()}")
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet ==
      ((1L to 100L).toSet ++ (1000L to 1100L).toSet --
        (10L to 14L) -- (20L to 24L) -- (1010L to 1014L)))
  }
}
