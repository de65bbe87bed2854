package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of the SQL DDL story (round 17): `ALTER TABLE ... ADD
  * COLUMNS` as a zero-data-rewrite metadata commit (catalog schema kept
  * in lockstep for registered tables), CTAS through the registered
  * source, and the refusal surface (`AnalysisException`, never a bare
  * RuntimeException, on duplicate/case-colliding columns). */
class SnapshotDdlSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapddl").toFile
    d.delete()
    d.getAbsolutePath
  }

  test("ALTER TABLE ADD COLUMNS is a metadata-only commit: zero data " +
    "bytes move, old rows null-fill, INSERT across the evolution works, " +
    "and the registered catalog face resolves the new shape immediately") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 50L).map(i => (i, s"t$i")).toDF("doc_id", "text"), "ingest")
    val filesBefore = SnapshotStore.manifest(spark, dir, 1L).files
    val tbl = "graft_ddl_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')")
    try {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (quality BIGINT, tag STRING)")
      val m2 = SnapshotStore.manifest(spark, dir, 2L)
      assert(m2.operation == "add-columns")
      assert(m2.files == filesBefore, "zero data files may move")
      assert(m2.schema.fieldNames.toSeq ==
        Seq("doc_id", "text", "quality", "tag"))
      // catalog face sees the evolved shape at once; old rows null-fill
      val viaSql = spark.sql(s"SELECT count(*) FROM $tbl WHERE quality IS NULL")
        .as[Long].head()
      assert(viaSql == 50L)
      // write across the evolution, read the mix back
      spark.sql(s"INSERT INTO $tbl VALUES (100, 'new', 7, 'good')")
      val got = spark.sql(
        s"SELECT count(*), count(quality), sum(quality) FROM $tbl")
        .as[(Long, Long, Long)].head()
      assert(got == ((51L, 1L, 7L)))
      // time travel to BEFORE the evolution: the old schema, old shape
      assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
        .columns.toSeq == Seq("doc_id", "text"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("ADD COLUMNS on a quoted path works without a catalog entry; the " +
    "log entry is a pure-header delta (no adds/removes)") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 10L).map(i => (i, s"t$i")).toDF("doc_id", "text"), "ingest")
    spark.sql(s"ALTER TABLE '$dir' ADD COLUMN (score DOUBLE)")
    val m = SnapshotStore.manifest(spark, dir, 2L)
    assert(m.schema.fieldNames.contains("score"))
    assert(SnapshotStore.read(spark, dir)
      .filter(col("score").isNull).count() == 10L)
    // commit bytes O(schema): far smaller than v1, whose delta adds
    // every file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def len(v: Long) = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      f"$dir/_manifests/v$v%08d.json")).getLen
    assert(len(2L) < len(1L), "a metadata commit must not restate files")
  }

  test("duplicate and case-colliding ADD COLUMNS refuse as " +
    "AnalysisException; non-snapshot ALTER TABLE falls through to Spark") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      Seq((1L, "a")).toDF("doc_id", "text"), "ingest")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"ALTER TABLE '$dir' ADD COLUMNS (text STRING)")
    }
    assert(e1.getMessage.contains("already exists"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"ALTER TABLE '$dir' ADD COLUMNS (TEXT BIGINT)")
    }
    assert(e2.getMessage.contains("already exists"),
      "case-colliding spellings must refuse under case-insensitive analysis")
    assert(SnapshotStore.versions(spark, dir) == Seq(1L),
      "refused DDL commits nothing")
    // a non-snapshot target keeps Spark's own ALTER TABLE behavior
    Seq((1, "x")).toDF("a", "b").write.mode("overwrite")
      .saveAsTable("graft_ddl_plain")
    try {
      spark.sql("ALTER TABLE graft_ddl_plain ADD COLUMNS (c INT)")
      assert(spark.table("graft_ddl_plain").columns.toSeq ==
        Seq("a", "b", "c"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_plain")
  }

  test("DROP COLUMN is metadata-only: files keep the physical bytes, reads " +
    "project the column away, a rewrite retires the bytes, and time travel " +
    "to the pre-drop version still reads it") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 50L).map(i => (i, s"t$i", i % 3)).toDF("doc_id", "text", "junk"),
      "ingest")
    val filesBefore = SnapshotStore.manifest(spark, dir, 1L).files
    SnapshotStore.dropColumn(spark, dir, "junk")
    val m2 = SnapshotStore.manifest(spark, dir, 2L)
    assert(m2.operation == "drop-column" && m2.files == filesBefore)
    assert(m2.droppedCols == Seq("junk"))
    assert(SnapshotStore.read(spark, dir).columns.toSeq ==
      Seq("doc_id", "text"))
    // pre-drop version still reads the column
    assert(SnapshotStore.readAsOf(spark, dir, 1L)
      .filter(col("doc_id") === 3L).select("junk").as[Long].head() == 0L)
    // the physical bytes still exist in the carried files…
    assert(spark.read.parquet(m2.files: _*).columns.contains("junk"))
    // …until a rewrite retires them
    SnapshotStore.compact(spark, dir)
    val m3 = SnapshotStore.manifest(spark, dir, 3L)
    assert(!spark.read.parquet(m3.files: _*).columns.contains("junk"),
      "a rewrite reads the logical schema — dropped bytes never copy forward")
    assert(m3.droppedCols == Seq("junk"), "tombstones carry through rewrites")
  }

  test("re-adding a DROPPED name takes a FRESH physical name — old files' " +
    "bytes never resurrect; implicit append-evolution of the name refuses") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 30L).map(i => (i, s"t$i", 100L + i)).toDF("doc_id", "text", "score"),
      "ingest")
    SnapshotStore.dropColumn(spark, dir, "score")
    // implicit evolution via append refuses (silent resurrection risk)
    val e = intercept[RuntimeException] {
      SnapshotStore.commitAppend(spark, dir,
        Seq((900L, "x", 7L)).toDF("doc_id", "text", "score"), "append")
    }
    assert(e.getMessage.contains("DROPPED column"))
    // explicit ADD COLUMNS re-adds under a fresh physical name
    SnapshotStore.addColumns(spark, dir,
      Seq(org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.LongType)))
    val m = SnapshotStore.manifest(spark, dir,
      SnapshotStore.latestVersion(spark, dir).get)
    val f = m.schema.fields.find(_.name == "score").get
    assert(SnapshotStore.physicalName(f) != "score",
      s"re-added column must take a fresh physical, got ${SnapshotStore.physicalName(f)}")
    // old rows read NULL for the re-added column (never the old bytes)
    assert(SnapshotStore.read(spark, dir)
      .filter(col("score").isNotNull).count() == 0L,
      "old files' dropped bytes must not resurrect under the new column")
    // and writes under the new column land + read back
    SnapshotStore.commitAppend(spark, dir,
      Seq((900L, "x", 7L)).toDF("doc_id", "text", "score"), "append")
    assert(SnapshotStore.read(spark, dir)
      .filter(col("doc_id") === 900L).select("score").as[Long].head() == 7L)
    assert(SnapshotStore.read(spark, dir)
      .filter(col("score").isNotNull).count() == 1L)
  }

  test("SQL DROP COLUMN: registered table + catalog lockstep + refusals; " +
    "DROP of a renamed column tombstones its PHYSICAL name") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 20L).map(i => (i, s"t$i", i % 2, i % 5))
        .toDF("doc_id", "text", "a", "b"), "ingest")
    val tbl = "graft_drop_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')")
    try {
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN a TO alpha")
      spark.sql(s"ALTER TABLE $tbl DROP COLUMN alpha")
      assert(spark.table(tbl).columns.toSeq == Seq("doc_id", "text", "b"))
      val m = SnapshotStore.manifest(spark, dir,
        SnapshotStore.latestVersion(spark, dir).get)
      assert(m.droppedCols == Seq("a"),
        "the tombstone records the PHYSICAL name of the renamed column")
      spark.sql(s"ALTER TABLE $tbl DROP COLUMNS (b)")
      assert(spark.sql(s"SELECT * FROM $tbl").columns.toSeq ==
        Seq("doc_id", "text"))
      val e1 = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"ALTER TABLE $tbl DROP COLUMN nope")
      }
      assert(e1.getMessage.contains("does not exist"))
      // dropping down to one column is fine; dropping the LAST refuses
      spark.sql(s"ALTER TABLE $tbl DROP COLUMN text")
      val e2 = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"ALTER TABLE $tbl DROP COLUMN doc_id")
      }
      assert(e2.getMessage.contains("last column"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("DROP COLUMNS dedupes case-variant repeats (one commit, no partial " +
    "DDL); a same-batch ADD cannot mint two fields sharing a physical name") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 10L).map(i => (i, s"t$i", i % 2, i % 3))
        .toDF("doc_id", "text", "a", "b"), "ingest")
    val tbl = "graft_dropdedupe_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')")
    try {
      spark.sql(s"ALTER TABLE $tbl DROP COLUMNS (a, A)")
      assert(SnapshotStore.latestVersion(spark, dir).contains(2L),
        "the case-variant repeat dedupes to ONE drop-column commit")
      assert(spark.table(tbl).columns.toSeq == Seq("doc_id", "text", "b"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // same-batch physical collision: after dropping `score` at v… the
    // fresh name would be score_r<n>; adding BOTH score and the literal
    // score_r<n> in one batch must still yield DISTINCT physicals
    val dir2 = freshDir()
    SnapshotStore.commit(spark, dir2,
      (1L to 5L).map(i => (i, s"t$i", i)).toDF("doc_id", "text", "score"),
      "ingest")
    SnapshotStore.dropColumn(spark, dir2, "score") // v2 → fresh would be _r3
    SnapshotStore.addColumns(spark, dir2, Seq(
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score_r3",
        org.apache.spark.sql.types.LongType)))
    val m = SnapshotStore.manifest(spark, dir2,
      SnapshotStore.latestVersion(spark, dir2).get)
    val phys = m.schema.fields.map(SnapshotStore.physicalName)
    assert(phys.distinct.length == phys.length,
      s"physical names must be pairwise distinct, got ${phys.toSeq}")
    SnapshotStore.commitAppend(spark, dir2,
      Seq((90L, "x", 1L, 2L)).toDF("doc_id", "text", "score", "score_r3"),
      "append")
    assert(SnapshotStore.read(spark, dir2)
      .filter(col("doc_id") === 90L)
      .select("score", "score_r3").as[(Long, Long)].head() == ((1L, 2L)))
  }

  test("DROP COLUMNS (a, b) is ONE atomic commit: both fields leave the " +
    "schema and both physical names tombstone together — never a " +
    "partially-applied DDL") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 10L).map(i => (i, s"t$i", i % 2, i % 3))
        .toDF("doc_id", "text", "a", "b"), "ingest")
    spark.sql(s"ALTER TABLE '$dir' DROP COLUMNS (a, b)")
    assert(SnapshotStore.latestVersion(spark, dir).contains(2L),
      "the multi-column drop must land as ONE commit")
    val m = SnapshotStore.manifest(spark, dir, 2L)
    assert(m.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    assert(m.droppedCols.sorted == Seq("a", "b"),
      "both physical names tombstone in the same commit")
    // API face too
    val dir2 = freshDir()
    SnapshotStore.commit(spark, dir2,
      (1L to 5L).map(i => (i, s"t$i", i, i)).toDF("id", "t", "x", "y"),
      "ingest")
    SnapshotStore.dropColumns(spark, dir2, Seq("x", "y"))
    assert(SnapshotStore.latestVersion(spark, dir2).contains(2L))
    assert(SnapshotStore.read(spark, dir2).columns.toSeq == Seq("id", "t"))
  }

  test("ADD COLUMNS colliding with a renamed column's PHYSICAL name " +
    "refuses as AnalysisException (the schema-evolution-conflict class), " +
    "never a bare RuntimeException") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 5L).map(i => (i, s"t$i")).toDF("doc_id", "body"), "ingest")
    spark.sql(s"ALTER TABLE '$dir' RENAME COLUMN body TO text")
    // 'body' is now the renamed column's physical parquet name — a new
    // column spelled 'body' would mint duplicate parquet fields
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"ALTER TABLE '$dir' ADD COLUMNS (body STRING)")
    }
    assert(e.getMessage.contains("schema evolution conflict"))
  }

  test("CTAS: CREATE TABLE ... USING graft-snapshot AS SELECT commits the " +
    "query as version 1 and registers a queryable, mutable table") {
    val dir = freshDir()
    (1L to 30L).map(i => (i, s"t$i", i % 3)).toDF("doc_id", "text", "grp")
      .createOrReplaceTempView("graft_ctas_src")
    val tbl = "graft_ctas_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      spark.sql(
        s"""CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')
           |AS SELECT doc_id, text FROM graft_ctas_src WHERE grp = 0""".stripMargin)
      assert(SnapshotStore.versions(spark, dir) == Seq(1L))
      assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() == 10L)
      // the CTAS table is a full citizen: DML + time travel work
      spark.sql(s"DELETE FROM $tbl WHERE doc_id = 3")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").as[Long].head() == 9L)
      assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1")
        .as[Long].head() == 10L)
      // CTAS onto an occupied location refuses loudly — Spark's own
      // non-empty-location guard fires before the provider's
      // ErrorIfExists contract would
      val e = intercept[Exception] {
        spark.sql(s"""CREATE TABLE graft_ctas_other USING `graft-snapshot`
          |OPTIONS (path '$dir') AS SELECT 1L AS doc_id, 'x' AS text""".stripMargin)
      }
      assert(e.getMessage.contains("non-empty directory") ||
        e.getMessage.contains("already has committed versions"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql("DROP TABLE IF EXISTS graft_ctas_other")
    }
  }
}
