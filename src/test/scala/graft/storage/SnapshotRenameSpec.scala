package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of COLUMN MAPPING (round 17 — Delta's name-mode mapping):
  * `RENAME COLUMN` is a metadata-only commit; every committed parquet
  * file keeps its physical spelling and stays readable, old versions
  * time-travel under their own names, stats pruning keeps firing on
  * the renamed column, and every write path (append, CoW and DV
  * mutation, compaction) keeps spelling the physical name. */
class SnapshotRenameSpec extends SparkSpec {

  import spark.implicits._
  import SnapshotStore.FilePredicate._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapren").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def seed(dir: String, n: Long = 200L): Unit =
    SnapshotStore.commit(spark, dir,
      (1L to n).map(i => (i, s"t$i", i % 5))
        .toDF("doc_id", "text", "score")
        .repartitionByRange(4, col("doc_id")), "ingest")

  test("rename is a metadata-only commit: zero files move, reads surface " +
    "the new name, time travel keeps the OLD name, values intact") {
    val dir = freshDir()
    seed(dir)
    val files1 = SnapshotStore.manifest(spark, dir, 1L).files
    SnapshotStore.renameColumn(spark, dir, "text", "body")
    val m2 = SnapshotStore.manifest(spark, dir, 2L)
    assert(m2.operation == "rename-column")
    assert(m2.files == files1, "zero data files may move")
    assert(SnapshotStore.read(spark, dir).columns.toSeq ==
      Seq("doc_id", "body", "score"))
    assert(SnapshotStore.read(spark, dir)
      .filter(col("doc_id") === 7L).select("body").as[String].head() == "t7")
    // the OLD version still reads under its own recorded name
    assert(SnapshotStore.readAsOf(spark, dir, 1L).columns.toSeq ==
      Seq("doc_id", "text", "score"))
    // the physical files still spell the ORIGINAL name
    val raw = spark.read.parquet(m2.files: _*)
    assert(raw.columns.contains("text") && !raw.columns.contains("body"))
  }

  test("stats pruning keeps firing on a renamed column (logical predicate " +
    "translates to the physical stats key)") {
    val dir = freshDir()
    seed(dir, 400L)
    SnapshotStore.renameColumn(spark, dir, "doc_id", "id")
    val pruned = SnapshotStore.prunedFiles(spark, dir, 2L, EqTo("id", 42L))
    val all = SnapshotStore.manifest(spark, dir, 2L).files
    assert(pruned.length < all.length,
      s"renamed-column predicate must still prune (kept ${pruned.length} " +
        s"of ${all.length})")
    val got = SnapshotStore.readAsOfWhere(spark, dir, 2L,
      between("id", 10L, 12L)).select("id").as[Long].collect().toSet
    assert(got == Set(10L, 11L, 12L))
    // the Catalyst index face prunes too: plain .filter on the new name
    val (df, idx) = SnapshotFileIndex.readAsOfTableWithIndex(spark, dir, 2L)
    assert(df.filter(col("id") === 42L).count() == 1L)
    assert(idx.lastListedCount < all.length,
      "pushed-down filters on the logical name must reach the stats")
  }

  test("every write path keeps spelling the PHYSICAL name after a rename: " +
    "append, CoW update, DV delete, merge, compact — all read back exactly") {
    val dir = freshDir()
    seed(dir)
    SnapshotStore.renameColumn(spark, dir, "text", "body")
    // append uses the LOGICAL schema
    SnapshotStore.commitAppend(spark, dir,
      Seq((500L, "new", 0L)).toDF("doc_id", "body", "score"), "append")
    // CoW update on the renamed column
    SnapshotStore.updateCondition(spark, dir, col("doc_id") === 500L,
      Some(EqTo("doc_id", 500L)), Seq("body" -> lit("patched")))
    // DV delete predicated on the renamed column
    SnapshotStore.deleteWhereDv(spark, dir, EqTo("body", "t13"))
    // merge replacing one key
    SnapshotStore.merge(spark, dir,
      Seq((7L, "merged", 9L)).toDF("doc_id", "body", "score"), Seq("doc_id"))
    // compact materializes everything
    SnapshotStore.compact(spark, dir)
    val got = SnapshotStore.read(spark, dir)
      .select("doc_id", "body").as[(Long, String)].collect().toMap
    assert(got.size == 200L, "200 seeded + 1 appended - 1 deleted")
    assert(got(500L) == "patched" && got(7L) == "merged" && !got.contains(13L))
    // all data files — new and old — spell the physical name
    val m = SnapshotStore.manifest(spark, dir,
      SnapshotStore.latestVersion(spark, dir).get)
    val raw = spark.read.parquet(m.files: _*)
    assert(raw.columns.contains("text") && !raw.columns.contains("body"))
    // and the recorded schema still maps body -> text
    assert(SnapshotStore.physicalOf(m.schema) == Map("body" -> "text"))
  }

  test("SQL: ALTER TABLE RENAME COLUMN on a registered table keeps the " +
    "catalog in lockstep; SELECT/UPDATE on the new name; refusals typed") {
    val dir = freshDir()
    seed(dir)
    val tbl = "graft_ren_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')")
    try {
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN text TO body")
      assert(spark.table(tbl).columns.toSeq == Seq("doc_id", "body", "score"))
      assert(spark.sql(s"SELECT body FROM $tbl WHERE doc_id = 7")
        .as[String].head() == "t7")
      spark.sql(s"UPDATE $tbl SET body = 'sql-upd' WHERE doc_id = 9")
      assert(spark.sql(s"SELECT body FROM $tbl WHERE doc_id = 9")
        .as[String].head() == "sql-upd")
      // time travel across the rename: the old version, old names
      assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
        .columns.toSeq == Seq("doc_id", "text", "score"))
      val e1 = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"ALTER TABLE $tbl RENAME COLUMN nope TO x")
      }
      assert(e1.getMessage.contains("does not exist"))
      val e2 = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"ALTER TABLE $tbl RENAME COLUMN body TO score")
      }
      assert(e2.getMessage.contains("already exists"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("renaming a PARTITION column refuses (values live in the physical " +
    "col=value layout); rename then rename-back round-trips") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 40L).map(i => (i, s"t$i", if (i % 2 == 0) "a" else "b"))
        .toDF("doc_id", "text", "grp"),
      "ingest", partitionBy = Seq("grp"))
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.renameColumn(spark, dir, "grp", "bucket")
    }
    assert(e.getMessage.contains("PARTITION column"))
    // non-partition renames on a partitioned table still work
    SnapshotStore.renameColumn(spark, dir, "text", "body")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("grp") === "a").count() == 20L)
    SnapshotStore.renameColumn(spark, dir, "body", "text")
    val m = SnapshotStore.manifest(spark, dir,
      SnapshotStore.latestVersion(spark, dir).get)
    assert(SnapshotStore.physicalOf(m.schema).isEmpty,
      "rename-back restores physical == logical (no residual mapping)")
    assert(SnapshotStore.read(spark, dir).columns.contains("text"))
  }

  test("a NEW column colliding with a renamed column's PHYSICAL name " +
    "refuses (the physical schema would hold duplicate parquet fields); " +
    "a full-snapshot overwrite reintroducing the physical spelling gets " +
    "exactly the user's name — no resurrected mapping") {
    val dir = freshDir()
    seed(dir, 20L)
    SnapshotStore.renameColumn(spark, dir, "text", "body")
    // evolution collision: adding a column named like the physical name
    val e = intercept[RuntimeException] {
      SnapshotStore.commitAppend(spark, dir,
        Seq((900L, "b", 1L, "poison"))
          .toDF("doc_id", "body", "score", "text"), "append")
    }
    assert(e.getMessage.contains("PHYSICAL name"))
    // ADD COLUMNS hits the same guard
    val e2 = intercept[RuntimeException] {
      SnapshotStore.addColumns(spark, dir,
        Seq(org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
    }
    assert(e2.getMessage.contains("PHYSICAL name"))
    // full-snapshot overwrite: the frame's names are the new authority
    SnapshotStore.commit(spark, dir,
      Seq((1L, "fresh")).toDF("doc_id", "text"), "rebuild")
    val m = SnapshotStore.manifest(spark, dir,
      SnapshotStore.latestVersion(spark, dir).get)
    assert(m.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    assert(SnapshotStore.physicalOf(m.schema).isEmpty,
      "a layout-redefining commit must not resurrect the old mapping")
    assert(SnapshotStore.read(spark, dir)
      .select("text").as[String].collect().toSeq == Seq("fresh"))
  }

  test("a metadata-only DDL that LOSES the commit race folds the rival's " +
    "concurrent schema evolution in — never a stale schema") {
    val dir = freshDir()
    seed(dir, 30L)
    // interleave: when the rename claims its version, a rival append
    // lands FIRST with a brand-new column — the rename's retry must
    // carry that column into its renamed schema
    var fired = false
    SnapshotStore.onAttemptForTest = { (op, _) =>
      if (op == "rename-column" && !fired) {
        fired = true
        SnapshotStore.commitAppend(spark, dir,
          Seq((900L, "x", 1L, "fresh"))
            .toDF("doc_id", "text", "score", "extra"), "append")
      }
    }
    try SnapshotStore.renameColumn(spark, dir, "text", "body")
    finally SnapshotStore.onAttemptForTest = (_, _) => ()
    val m = SnapshotStore.manifest(spark, dir,
      SnapshotStore.latestVersion(spark, dir).get)
    assert(m.operation == "rename-column")
    assert(m.schema.fieldNames.toSeq ==
      Seq("doc_id", "body", "score", "extra"),
      "the retry must fold the rival's new column AND apply the rename")
    val got = SnapshotStore.read(spark, dir)
      .filter(col("doc_id") === 900L)
      .select("body", "extra").as[(String, String)].head()
    assert(got == (("x", "fresh")))
  }

  test("a case-RESPELLED delta column on a renamed table still writes the " +
    "physical spelling (case-insensitive mapping lookup)") {
    val dir = freshDir()
    seed(dir, 20L)
    SnapshotStore.renameColumn(spark, dir, "text", "body")
    // the delta spells `Body` — committed spelling wins in the schema,
    // and the FILE must spell the physical `text`, not `Body`
    SnapshotStore.commitAppend(spark, dir,
      Seq((900L, "respelled", 1L)).toDF("doc_id", "Body", "score"), "append")
    val m = SnapshotStore.manifest(spark, dir, 3L)
    assert(m.schema.fieldNames.toSeq ==
      Seq("doc_id", "body", "score"), "committed spelling wins")
    val fresh = m.files.filterNot(
      SnapshotStore.manifest(spark, dir, 2L).files.toSet)
    val raw = spark.read.parquet(fresh: _*)
    assert(raw.columns.contains("text") && !raw.columns.exists(
      _.equalsIgnoreCase("body")),
      s"the respelled delta must write the physical name, got ${raw.columns.toSeq}")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("doc_id") === 900L).select("body").as[String].head() ==
      "respelled")
  }

  test("the row-grain CDF is RENAME-transparent: a rename alone reports " +
    "zero changes, and mutations across the boundary report real diffs " +
    "under the POST names — while a drop+re-add correctly null-fills") {
    val dir = freshDir()
    seed(dir, 40L)
    SnapshotStore.renameColumn(spark, dir, "text", "body")    // v2
    // rename alone: NO row changed
    assert(SnapshotStore.readRowChanges(spark, dir, 1L, 2L, Seq("doc_id"))
      .count() == 0L,
      "a rename is metadata — the CDF must not report an update storm")
    // a real mutation across the rename boundary reports under post names
    SnapshotStore.updateCondition(spark, dir, col("doc_id") === 5L,
      Some(EqTo("doc_id", 5L)), Seq("body" -> lit("v2")))      // v3
    val chg = SnapshotStore.readRowChanges(spark, dir, 1L, 3L, Seq("doc_id"))
      .orderBy("_change_type").collect()
    assert(chg.length == 2, s"one pre+post pair, got ${chg.toSeq}")
    assert(chg.map(_.getString(3)).toSeq ==
      Seq("update_postimage", "update_preimage"))
    assert(chg.forall(r => r.getLong(0) == 5L))
    // drop + re-add = a DIFFERENT column: pre-images are genuinely null
    SnapshotStore.dropColumn(spark, dir, "score")              // v4
    SnapshotStore.addColumns(spark, dir,
      Seq(org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.LongType)))                 // v5
    SnapshotStore.updateCondition(spark, dir, col("doc_id") === 7L,
      Some(EqTo("doc_id", 7L)), Seq("score" -> lit(99L)))      // v6
    val chg2 = SnapshotStore.readRowChanges(spark, dir, 3L, 6L, Seq("doc_id"))
    val pre7 = chg2.filter(col("_change_type") === "update_preimage" &&
      col("doc_id") === 7L).select("score").collect()
    assert(pre7.length == 1 && pre7.head.isNullAt(0),
      "the re-added column's pre-image is null — old bytes never resurrect")
  }

  test("CDF alignment survives rename CHAINS that reuse a freed name, and " +
    "a drop + rename-into-the-freed-name — one select, no mid-flight " +
    "ambiguity") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 20L).map(i => (i, s"a$i", s"b$i")).toDF("doc_id", "a", "b"),
      "ingest")
    SnapshotStore.renameColumn(spark, dir, "b", "c")  // v2
    SnapshotStore.renameColumn(spark, dir, "a", "b")  // v3: a takes b's old name
    assert(SnapshotStore.readRowChanges(spark, dir, 1L, 3L, Seq("doc_id"))
      .count() == 0L,
      "a pure rename chain — even one reusing a freed name — changes no row")
    // drop + rename INTO the freed name: the physical identities keep
    // the columns straight (post `c` is old b; post `b` is old a)
    val dir2 = freshDir()
    SnapshotStore.commit(spark, dir2,
      (1L to 20L).map(i => (i, s"t$i", i * 10)).toDF("doc_id", "text", "score"),
      "ingest")
    SnapshotStore.dropColumn(spark, dir2, "text")            // v2
    SnapshotStore.renameColumn(spark, dir2, "score", "text") // v3
    assert(SnapshotStore.readRowChanges(spark, dir2, 1L, 3L, Seq("doc_id"))
      .count() == 0L,
      "old score aligns to post 'text' via physical identity; the dropped " +
        "text column is omitted — no spurious changes, no dead bytes")
    assert(SnapshotStore.read(spark, dir2)
      .filter(col("doc_id") === 3L).select("text").as[Long].head() == 30L)
  }

  test("bloom point-skipping survives a rename of the declared column") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 400L).map(i => (i, i % 7))
        .toDF("doc_id", "grp")
        .withColumn("shuffle", pmod(hash(col("doc_id")), lit(8)))
        .repartitionByRange(8, col("shuffle")).drop("shuffle"),
      "ingest", bloomCols = Seq("doc_id"))
    SnapshotStore.renameColumn(spark, dir, "doc_id", "id")
    val pruned = SnapshotStore.prunedFiles(spark, dir, 2L,
      InSet("id", Seq(3L, 41L, 999999L)))
    val all = SnapshotStore.manifest(spark, dir, 2L).files
    assert(pruned.length <= 3 && pruned.length < all.length,
      s"bloom must prune on the renamed name (kept ${pruned.length}/${all.length})")
    assert(SnapshotStore.readAsOfWhere(spark, dir, 2L,
      InSet("id", Seq(3L, 41L, 999999L)))
      .select("id").as[Long].collect().toSet == Set(3L, 41L))
  }

  test("a column whose BIRTH name contains a dot stays readable after a " +
    "rename: the physical→logical alias resolves it as ONE column, " +
    "never a nested-field path") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 20L).map(i => (i, i * 2.0)).toDF("doc_id", "pt.x"), "ingest")
    SnapshotStore.renameColumn(spark, dir, "pt.x", "ptx")
    assert(SnapshotStore.read(spark, dir).columns.toSeq ==
      Seq("doc_id", "ptx"))
    assert(SnapshotStore.read(spark, dir)
      .filter(col("doc_id") === 5L).select("ptx").as[Double].head() == 10.0)
    // the DML-facing read path (vector overlay over the raw read)
    // resolves the dotted physical too
    SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 3L))
    assert(SnapshotStore.read(spark, dir).count() == 19L)
  }
}
