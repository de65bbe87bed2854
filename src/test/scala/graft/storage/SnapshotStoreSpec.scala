package graft.storage

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Contract of the transactional snapshot manifest: atomic commits,
  * time travel, torn-commit invisibility, maintenance commits that
  * preserve logical content, and vacuum that can only reclaim
  * unreferenced files. */
class SnapshotStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapstore").toFile
    d.delete() // store initializes its own layout
    d.getAbsolutePath
  }

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("commit / readAsOf: every version reads back exactly what was committed") {
    val dir = freshDir()
    val v1 = SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    val v2 = SnapshotStore.commit(spark, dir, docs(1L -> "a", 3L -> "c"), "upsert")
    assert((v1, v2) == ((1L, 2L)))
    assert(SnapshotStore.versions(spark, dir) == Seq(1L, 2L))
    assert(SnapshotStore.readAsOf(spark, dir, 1L)
      .as[(Long, String)].collect().sortBy(_._1).toSeq == Seq(1L -> "a", 2L -> "b"))
    assert(SnapshotStore.readAsOf(spark, dir, 2L)
      .as[(Long, String)].collect().sortBy(_._1).toSeq == Seq(1L -> "a", 3L -> "c"))
    // latest read = v2
    assert(SnapshotStore.read(spark, dir).count() == 2L)
  }

  test("torn commit is INVISIBLE: data files without a manifest do not exist") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    // simulate a crash between the data write and the manifest rename:
    // the data directory of would-be v2 exists, the manifest does not
    docs(9L -> "torn").write.parquet(s"$dir/data/v00000002-upsert")
    assert(SnapshotStore.latestVersion(spark, dir).contains(1L),
      "an uncommitted data dir must not surface as a version")
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a"), "reads must see only committed content")
    // and the NEXT committer refuses to reuse the orphaned directory
    // rather than silently absorbing the torn data
    intercept[IllegalArgumentException] {
      SnapshotStore.commit(spark, dir, docs(2L -> "b"), "upsert")
    }
    // vacuum reclaims the orphan; then the commit proceeds as v2
    SnapshotStore.vacuum(spark, dir, retain = 1)
    assert(SnapshotStore.commit(spark, dir, docs(2L -> "b"), "upsert") == 2L)
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSeq ==
      Seq(2L -> "b"))
  }

  test("compact commits a new version with IDENTICAL logical content; old versions intact") {
    val dir = freshDir()
    val df = (1L to 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .repartition(8) // many small files
    SnapshotStore.commit(spark, dir, df, "ingest")
    val v = SnapshotStore.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(v == 2L)
    assert(SnapshotStore.manifest(spark, dir, 2L).operation == "compact")
    assert(SnapshotStore.manifest(spark, dir, 2L).files.length <
      SnapshotStore.manifest(spark, dir, 1L).files.length,
      "compaction must reduce the file count")
    def content(ver: Long) = SnapshotStore.readAsOf(spark, dir, ver)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(content(1L) == content(2L), "compaction must not change rows")
  }

  test("cluster (z-order) commits a maintenance version through the same protocol") {
    val dir = freshDir()
    val df = (1L to 100L).map(i => (i, i % 10, (i * 7) % 10))
      .toDF("doc_id", "x", "y")
    SnapshotStore.commit(spark, dir, df, "ingest")
    val v = SnapshotStore.cluster(spark, dir, "x", "y", nFiles = 4)
    assert(v == 2L && SnapshotStore.manifest(spark, dir, 2L).operation == "zorder")
    assert(SnapshotStore.readAsOf(spark, dir, 2L).count() == 100L)
    assert(SnapshotStore.readAsOf(spark, dir, 1L).count() == 100L)
  }

  test("vacuum drops only unretained versions' files; retained reads survive") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    SnapshotStore.commit(spark, dir, docs(2L -> "b"), "upsert")
    SnapshotStore.commit(spark, dir, docs(3L -> "c"), "upsert")
    SnapshotStore.vacuum(spark, dir, retain = 2)
    assert(SnapshotStore.versions(spark, dir) == Seq(2L, 3L))
    // v1's files are gone
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/data/v00000001-ingest")))
    // retained versions still read
    assert(SnapshotStore.readAsOf(spark, dir, 2L).count() == 1L)
    assert(SnapshotStore.readAsOf(spark, dir, 3L).count() == 1L)
    intercept[IllegalArgumentException] {
      SnapshotStore.readAsOf(spark, dir, 1L)
    }
  }

  test("a commit race is DETECTED, never silently absorbed") {
    // Sequentially observable collision surfaces of the two-phase commit
    // (a rival manifest that is already FULLY committed simply bumps
    // latestVersion, so the next writer targets the next slot — no race;
    // the races live in the staging artifacts):
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (1) a rival mid-commit holds version 2's STAGED manifest: our
    // create(tmp, overwrite = false) must refuse, loudly
    val staged = new Path(s"$dir/_manifests/.v00000002.json.tmp")
    val out = fs.create(staged, false)
    out.write("{}".getBytes("UTF-8")); out.close()
    val stagedLen = fs.getFileStatus(staged).getLen
    intercept[java.io.IOException] {
      SnapshotStore.commit(spark, dir, docs(9L -> "loser"), "upsert")
    }
    assert(fs.getFileStatus(staged).getLen == stagedLen,
      "the rival's staged manifest must survive untouched")
    assert(SnapshotStore.latestVersion(spark, dir).contains(1L),
      "no torn version may surface")
    fs.delete(staged, false)
    // (2) our aborted attempt stranded version 2's data dir; the NEXT
    // committer refuses to reuse it (the dir claim is the other race
    // guard) until vacuum reclaims the orphan
    intercept[IllegalArgumentException] {
      SnapshotStore.commit(spark, dir, docs(9L -> "again"), "upsert")
    }
    SnapshotStore.vacuum(spark, dir, retain = 1)
    assert(SnapshotStore.commit(spark, dir, docs(9L -> "again"), "upsert") == 2L)
    assert(SnapshotStore.readAsOf(spark, dir, 2L)
      .as[(Long, String)].collect().toSet == Set(9L -> "again"),
      "full-snapshot commit semantics")
  }

  test("crashed-commit-then-commit succeeds unattended past the grace horizon") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    // crash between data write and manifest rename strands v2's data dir
    docs(9L -> "torn").write.parquet(s"$dir/data/v00000002-upsert")
    // within the grace horizon: refused loudly (a live writer may own it)
    intercept[IllegalArgumentException] {
      SnapshotStore.commit(spark, dir, docs(2L -> "b"), "upsert")
    }
    // past the horizon (grace 0): the orphan is reclaimed and the commit
    // lands unattended — no manual vacuum
    val v = SnapshotStore.commit(spark, dir, docs(2L -> "b"), "upsert",
      reclaimGraceMs = 0L)
    assert(v == 2L)
    assert(SnapshotStore.readAsOf(spark, dir, 2L)
      .as[(Long, String)].collect().toSet == Set(2L -> "b"),
      "the torn data must NOT be absorbed into the recovered commit")
  }

  test("two interleaved committers serialize: both commits land") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    // rival commits version 2 AFTER we picked our slot but BEFORE our
    // manifest rename — injected through the write closure, the widest
    // possible interleave window
    var rivalDone = false
    val v = SnapshotStore.commitFiles(spark, dir, "mine") { dataDir =>
      if (!rivalDone) {
        rivalDone = true
        assert(SnapshotStore.commit(spark, dir, docs(2L -> "rival"), "rival") == 2L)
      }
      docs(3L -> "mine").write.parquet(dataDir)
    }
    assert(v == 3L, "the loser retries at the next free version")
    assert(SnapshotStore.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(SnapshotStore.manifest(spark, dir, 2L).operation == "rival")
    assert(SnapshotStore.manifest(spark, dir, 3L).operation == "mine")
    assert(SnapshotStore.readAsOf(spark, dir, 3L)
      .as[(Long, String)].collect().toSet == Set(3L -> "mine"))
    // the losing attempt's first data dir was cleaned up
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(s"$dir/data")).map(_.getPath.getName).sorted
      .toSeq == Seq("v00000001-ingest", "v00000002-rival", "v00000003-mine"))
  }

  test("LogStore seam: put-if-absent ALONE serializes committers — a blind-overwrite filesystem (the object-store failure mode) never lands two version-N commits") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    // a mock store over a filesystem with NO atomic rename-if-absent:
    // it publishes by BLIND overwrite (create(path, true)) — exactly how
    // an S3-class store behaves — so any atomicity can come ONLY from
    // the store's own external arbiter (here an in-memory CAS; in a real
    // deployment a DynamoDB-style table). If the commit protocol relied
    // on filesystem rename semantics anywhere, this test would land two
    // version-2 manifests or absorb one silently.
    val arbiter = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val publishes = new java.util.concurrent.atomic.AtomicInteger
    object BlindOverwriteStore extends SnapshotStore.LogStore {
      override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                               path: Path, content: Array[Byte]): Boolean =
        if (arbiter.putIfAbsent(path.toString, "won") != null) false
        else {
          publishes.incrementAndGet()
          val out = fs.create(path, true) // blind overwrite, no atomicity
          try out.write(content) finally out.close()
          true
        }
    }
    val prev = SnapshotStore.logStore
    SnapshotStore.logStore = BlindOverwriteStore
    try {
      var rivalDone = false
      val v = SnapshotStore.commitFiles(spark, dir, "mine") { dataDir =>
        if (!rivalDone) {
          rivalDone = true
          // rival lands version 2 INSIDE our race window (after our slot
          // claim, before our publish)
          assert(SnapshotStore.commit(spark, dir,
            docs(2L -> "rival"), "rival") == 2L)
        }
        docs(3L -> "mine").write.parquet(dataDir)
      }
      assert(v == 3L, "the loser must take the optimistic retry, not win v2")
      assert(publishes.get() == 2, "exactly one publish per landed commit")
      assert(SnapshotStore.manifest(spark, dir, 2L).operation == "rival")
      assert(SnapshotStore.manifest(spark, dir, 3L).operation == "mine")
      assert(SnapshotStore.read(spark, dir)
        .as[(Long, String)].collect().toSet == Set(3L -> "mine"))
    } finally SnapshotStore.logStore = prev
  }

  test("decimal columns record EXACT unscaled-long stats; decimal predicates file-skip with no rounding traps") {
    val dir = freshDir()
    import org.apache.spark.sql.types.DecimalType
    val df = (1L to 400L).map(i => (i, s"t$i"))
      .toDF("doc_id", "text")
      .withColumn("price", (col("doc_id") * 25).cast(DecimalType(12, 2)))
      .repartitionByRange(8, col("price"))
    SnapshotStore.commit(spark, dir, df, "ingest")
    val m = SnapshotStore.manifest(spark, dir, 1L)
    val priceStats = m.stats.values.map(_.cols("price")).toSeq
    assert(priceStats.nonEmpty && priceStats.forall(cs =>
      cs.dataType == "decimal(12,2)" &&
        cs.min.exists(_.isInstanceOf[Long]) &&
        cs.max.exists(_.isInstanceOf[Long])),
      s"decimal stats must be exact unscaled longs: $priceStats")
    // round-trip through the log entry's JSON keeps exactness
    val parsed = SnapshotStore.parseRaw(SnapshotStore.renderDelta(
      SnapshotStore.deltaOf(m, SnapshotStore.EmptyTable)))
    assert(parsed.adds.toMap == m.stats)
    import SnapshotStore.FilePredicate._
    val pred = between("price",
      new java.math.BigDecimal("1000.00"), new java.math.BigDecimal("2000.00"))
    val pruned = SnapshotStore.prunedFiles(spark, dir, 1L, pred)
    assert(pruned.length < m.files.length,
      s"a narrow decimal range must prune: ${pruned.length} of ${m.files.length}")
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, pred)
      .select("doc_id").as[Long].collect().toSet ==
      (40L to 80L).toSet, "pruned read + residual == full filter")
    // a boundary value is NEVER pruned away (exactness: 1000.00 is the
    // min of some file's range, a rounded bound could lose it)
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L,
      EqTo("price", new java.math.BigDecimal("1000.00"))).count() == 1L)
    // the Catalyst-integrated path prunes on the same decimal stats
    val (dfIdx, idx) = SnapshotFileIndex.readAsOfTableWithIndex(spark, dir, 1L)
    val n = dfIdx.filter(col("price") === new java.math.BigDecimal("2500.00"))
      .count()
    assert(n == 1L)
    assert(idx.lastListedCount < m.files.length,
      "a decimal point predicate must file-skip through the index")
    // precision > 18 stays untracked (conservative), never wrong
    val dir2 = freshDir()
    SnapshotStore.commit(spark, dir2,
      Seq((1L, new java.math.BigDecimal("1.50")))
        .toDF("doc_id", "wide")
        .withColumn("wide", col("wide").cast(DecimalType(28, 2))), "ingest")
    val m2 = SnapshotStore.manifest(spark, dir2, 1L)
    assert(!m2.stats.values.head.cols.contains("wide"),
      "precision > 18 must not record (unscaled long would overflow)")
    assert(SnapshotStore.readAsOfWhere(spark, dir2, 1L,
      EqTo("wide", new java.math.BigDecimal("1.50"))).count() == 1L)
  }

  test("declared bloom columns prune point lookups on an UNSORTED id-keyed table; min/max alone could not") {
    val dir = freshDir()
    // ids SHUFFLED across files: every file's (min, max) spans nearly the
    // whole range, so range stats prune nothing — the exact case blooms
    // exist for
    val df = (1L to 4000L).map(i => (i, s"body $i", s"u$i"))
      .toDF("doc_id", "text", "uid")
      .withColumn("shuffle", pmod(hash(col("doc_id")), lit(16)))
      .repartitionByRange(16, col("shuffle"))
      .drop("shuffle")
    SnapshotStore.commit(spark, dir, df, "ingest",
      bloomCols = Seq("doc_id", "uid"))
    val m = SnapshotStore.manifest(spark, dir, 1L)
    assert(m.bloomCols == Seq("doc_id", "uid"))
    assert(m.stats.values.forall(fs =>
      fs.blooms.keySet == Set("doc_id", "uid") &&
        fs.blooms("doc_id").dataType == "bigint" &&
        fs.blooms("uid").dataType == "string"))
    import SnapshotStore.FilePredicate._
    // range stats CANNOT prune this layout (sanity: the bloom is doing
    // the work, not min/max)
    val rangeOnly = SnapshotStore.prunedFiles(spark, dir, 1L,
      between("doc_id", 777L, 777L))
    assert(rangeOnly.length > 12,
      s"shuffled layout must defeat min/max: ${rangeOnly.length} of 16 kept")
    // a point lookup prunes to ~1 file (1% fpp at this density)
    val hit = SnapshotStore.prunedFiles(spark, dir, 1L, EqTo("doc_id", 777L))
    assert(hit.length <= 3,
      s"bloom must prune a point lookup to ~1 file: kept ${hit.length} of 16")
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, EqTo("doc_id", 777L))
      .select("text").as[String].head() == "body 777")
    // a MISSING id prunes everything yet answers exactly (empty)
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L,
      EqTo("doc_id", 999999L)).count() == 0L)
    // string key probes work and type-mismatched probes stay conservative
    assert(SnapshotStore.prunedFiles(spark, dir, 1L,
      EqTo("uid", "u777")).length <= 3)
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, EqTo("uid", "u777"))
      .select("doc_id").as[Long].head() == 777L)
    // IN lists prune per-candidate through the same blooms
    val inKept = SnapshotStore.prunedFiles(spark, dir, 1L,
      InSet("doc_id", Seq(777L, 1234L, 999999L)))
    assert(inKept.length <= 5,
      s"a 3-candidate IN must keep <= ~3 files: ${inKept.length}")
    // appends inherit the declaration
    SnapshotStore.commitAppend(spark, dir,
      Seq((9001L, "body 9001", "u9001")).toDF("doc_id", "text", "uid"),
      "append")
    val m2 = SnapshotStore.manifest(spark, dir, 2L)
    assert(m2.bloomCols == Seq("doc_id", "uid"))
    val newFile = m2.files.filterNot(m.files.toSet)
    assert(newFile.forall(f => m2.stats(f).blooms.contains("doc_id")),
      "appended files must record blooms for the inherited declaration")
  }

  test("the Catalyst index consults blooms: an equality SQL filter on an unsorted key lists ~1 file") {
    val dir = freshDir()
    val df = (1L to 4000L).map(i => (i, s"b$i"))
      .toDF("doc_id", "text")
      .withColumn("shuffle", pmod(hash(col("doc_id")), lit(16)))
      .repartitionByRange(16, col("shuffle"))
      .drop("shuffle")
    SnapshotStore.commit(spark, dir, df, "ingest", bloomCols = Seq("doc_id"))
    val (dfIdx, idx) = SnapshotFileIndex.readAsOfTableWithIndex(spark, dir, 1L)
    assert(dfIdx.filter(col("doc_id") === 777L)
      .select("text").as[String].head() == "b777")
    assert(idx.lastListedCount <= 3,
      s"the index must bloom-prune the equality scan: ${idx.lastListedCount} of 16")
    assert(dfIdx.filter(col("doc_id").isin(777L, 1234L)).count() == 2L)
    assert(idx.lastListedCount <= 5)
  }

  test("convertParquet adopts an existing parquet dir in place with ZERO rewrite; full lifecycle continues on top") {
    val dir = freshDir()
    // a plain pre-existing parquet directory, as a migration would find it
    (1L to 300L).map(i => (i, s"t$i", (i % 7).toDouble))
      .toDF("doc_id", "text", "score")
      .repartitionByRange(6, col("doc_id"))
      .write.parquet(dir)
    val originals = {
      val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(new Path(dir)).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSet
    }
    val v = SnapshotStore.convertParquet(spark, dir,
      bloomCols = Seq("doc_id"))
    assert(v == 1L)
    val m = SnapshotStore.manifest(spark, dir, 1L)
    assert(m.operation == "convert")
    assert(m.files.toSet == originals,
      "conversion must REFERENCE the existing files, not copy them")
    assert(m.stats.nonEmpty && m.stats.values.forall(fs =>
      fs.rows > 0 && fs.blooms.contains("doc_id")))
    assert(SnapshotStore.read(spark, dir)
      .select("doc_id").as[Long].collect().toSet == (1L to 300L).toSet)
    // stats prune immediately on the converted layout
    import SnapshotStore.FilePredicate._
    assert(SnapshotStore.prunedFiles(spark, dir, 1L,
      between("doc_id", 10L, 20L)).length < m.files.length)
    // the lifecycle continues: append, DV delete, compact, time travel
    SnapshotStore.commitAppend(spark, dir,
      Seq((301L, "new", 0.0)).toDF("doc_id", "text", "score"), "append")
    SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 7L))
    assert(SnapshotStore.read(spark, dir).count() == 300L)
    SnapshotStore.compact(spark, dir, targetFileBytes = 8L * 1024 * 1024)
    assert(SnapshotStore.read(spark, dir).count() == 300L)
    assert(SnapshotStore.readAsOf(spark, dir, 1L).count() == 300L,
      "the converted version itself stays time-travelable")
    // converting an existing table refuses
    intercept[Exception] { SnapshotStore.convertParquet(spark, dir) }
  }

  test("convertParquet adopts a hive-partitioned dir; partition pruning fires; SQL CONVERT TO SNAPSHOT speaks it") {
    val dir = freshDir()
    (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "de", s"t$i"))
      .toDF("doc_id", "lang", "text")
      .write.partitionBy("lang").parquet(dir)
    val sqlDir = freshDir()
    (1L to 50L).map(i => (i, s"x$i")).toDF("doc_id", "text")
      .write.parquet(sqlDir)
    val v = SnapshotStore.convertParquet(spark, dir, Seq("lang"))
    assert(v == 1L)
    val m = SnapshotStore.manifest(spark, dir, 1L)
    assert(m.partitionCols == Seq("lang"))
    assert(SnapshotStore.read(spark, dir)
      .filter(col("lang") === "en").count() == 100L)
    val (df, idx) = SnapshotFileIndex.readAsOfTableWithIndex(spark, dir, 1L)
    df.filter(col("lang") === "en").count()
    assert(idx.lastPartitionPruned > 0,
      "partition predicates must prune the converted hive layout")
    // the SQL spelling on the flat dir
    val out = spark.sql(s"CONVERT TO SNAPSHOT '$sqlDir'").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.read.format("graft-snapshot").load(sqlDir).count() == 50L)
  }

  test("convertParquet refuses a PARTIAL partition declaration and merges evolved footers") {
    // partial declaration over a two-level hive dir: the undeclared
    // level would silently read as NULL — must refuse
    val dir = freshDir()
    Seq((1L, "en", "2024-01-01", "a"), (2L, "de", "2024-01-02", "b"))
      .toDF("doc_id", "lang", "day", "text")
      .write.partitionBy("lang", "day").parquet(dir)
    val e = intercept[Exception] {
      SnapshotStore.convertParquet(spark, dir, Seq("lang"))
    }
    assert(e.getMessage.contains("declare every level"))
    assert(SnapshotStore.convertParquet(spark, dir, Seq("lang", "day")) == 1L)
    assert(SnapshotStore.read(spark, dir)
      .filter(col("day") === "2024-01-02").count() == 1L)
    // schema-evolved source: a column present only in SOME files must
    // survive conversion regardless of which footer inference samples
    val dir2 = freshDir()
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.parquet(s"$dir2/batch1") // old shape
    Seq((2L, "b", 0.5)).toDF("doc_id", "text", "score")
      .write.parquet(s"$dir2/batch2") // evolved shape
    val f = new Path(dir2).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // flatten into one dir (a migration dir accreted over time)
    Seq("batch1", "batch2").foreach { b =>
      f.listStatus(new Path(s"$dir2/$b")).filter(_.isFile)
        .filterNot(_.getPath.getName.startsWith("_")).foreach { st =>
          f.rename(st.getPath, new Path(s"$dir2/${b}_${st.getPath.getName}"))
        }
      f.delete(new Path(s"$dir2/$b"), true)
    }
    SnapshotStore.convertParquet(spark, dir2)
    val m2 = SnapshotStore.manifest(spark, dir2, 1L)
    assert(m2.schema.fieldNames.contains("score"),
      "an evolved column must survive conversion (merged footers)")
    assert(SnapshotStore.read(spark, dir2)
      .select("doc_id", "score").as[(Long, Option[Double])].collect().toMap ==
      Map(1L -> None, 2L -> Some(0.5)))
  }

  test("vacuumOlderThan retains by commit age (always at least the latest); SQL RETAIN n HOURS speaks it") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    SnapshotStore.commitAppend(spark, dir, docs(2L -> "b"), "append")
    Thread.sleep(30)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(30)
    SnapshotStore.commitAppend(spark, dir, docs(3L -> "c"), "append")
    SnapshotStore.vacuumOlderThan(spark, dir, cutoff)
    assert(SnapshotStore.versions(spark, dir) == Seq(3L),
      "only versions committed at or after the cutoff survive")
    assert(SnapshotStore.read(spark, dir).count() == 3L)
    // a future cutoff still retains the latest
    SnapshotStore.vacuumOlderThan(spark, dir,
      System.currentTimeMillis() + 1000000L)
    assert(SnapshotStore.versions(spark, dir) == Seq(3L))
    // SQL: RETAIN n HOURS (a generous window keeps everything)
    val dir2 = freshDir()
    SnapshotStore.commit(spark, dir2, docs(1L -> "a"), "ingest")
    SnapshotStore.commitAppend(spark, dir2, docs(2L -> "b"), "append")
    spark.sql(s"VACUUM '$dir2' RETAIN 168 HOURS")
    assert(SnapshotStore.versions(spark, dir2) == Seq(1L, 2L),
      "commits inside the retention window all survive")
    spark.sql(s"VACUUM '$dir2' RETAIN 0 HOURS")
    assert(SnapshotStore.versions(spark, dir2) == Seq(2L),
      "a zero-hour window keeps only the latest")
    // an absurd retention saturates to keep-everything — an overflowed
    // cutoff must never invert into vacuum-everything
    val dir3 = freshDir()
    SnapshotStore.commit(spark, dir3, docs(1L -> "a"), "ingest")
    SnapshotStore.commitAppend(spark, dir3, docs(2L -> "b"), "append")
    spark.sql(s"VACUUM '$dir3' RETAIN 99999999999999 HOURS")
    assert(SnapshotStore.versions(spark, dir3) == Seq(1L, 2L),
      "a keep-everything intent must keep everything, not overflow")
  }

  test("RenameLogStore honors the put-if-absent contract directly") {
    val dir = freshDir()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir))
    val p = new Path(s"$dir/v1.json")
    assert(SnapshotStore.RenameLogStore.putIfAbsent(fs, p,
      "first".getBytes("UTF-8")))
    assert(!SnapshotStore.RenameLogStore.putIfAbsent(fs, p,
      "second".getBytes("UTF-8")), "an existing path must lose")
    val in = fs.open(p)
    val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(got == "first", "the loser must not clobber the winner")
    assert(!fs.exists(new Path(s"$dir/.v1.json.tmp")),
      "the losing temp file is cleaned up")
  }

  test("per-file min/max stats are recorded; readAsOfWhere prunes files and matches the full scan") {
    val dir = freshDir()
    val df = (1L to 400L).map(i => (i, s"text $i", (i % 5).toDouble))
      .toDF("doc_id", "text", "score")
      .repartitionByRange(8, col("doc_id")) // each file covers a narrow id range
    SnapshotStore.commit(spark, dir, df, "ingest")
    val m = SnapshotStore.manifest(spark, dir, 1L)
    assert(m.files.length == 8)
    assert(m.stats.keySet == m.files.toSet, "every file carries stats")
    assert(m.stats.values.map(_.rows).sum == 400L)
    assert(m.stats.values.forall(_.bytes > 0L),
      "commit records real file sizes — readers must never need a per-file RPC")
    val idStats = m.stats.values.map(_.cols("doc_id"))
    assert(idStats.forall(cs => cs.min.isDefined && cs.max.isDefined))

    import SnapshotStore.FilePredicate._
    val pred = between("doc_id", 90L, 110L)
    val pruned = SnapshotStore.prunedFiles(spark, dir, 1L, pred)
    assert(pruned.length < m.files.length && pruned.nonEmpty,
      s"range-partitioned layout must file-skip: ${pruned.length} of ${m.files.length}")
    val skipped = SnapshotStore.readAsOfWhere(spark, dir, 1L, pred)
      .as[(Long, String, Double)].collect().toSet
    val full = SnapshotStore.readAsOf(spark, dir, 1L)
      .filter(pred.toColumn).as[(Long, String, Double)].collect().toSet
    assert(skipped == full && full.map(_._1) == (90L to 110L).toSet,
      "data skipping must be invisible in the answer")
    // string stats prune too, under binary (UTF-8) ordering
    val sPred = EqTo("text", "text 7")
    val sPruned = SnapshotStore.prunedFiles(spark, dir, 1L, sPred)
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, sPred).count() == 1L)
    assert(sPruned.length <= m.files.length)
    // an empty survivor set still returns the right (empty) answer
    val none = between("doc_id", 5000L, 6000L)
    assert(SnapshotStore.prunedFiles(spark, dir, 1L, none).isEmpty)
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, none).count() == 0L)
  }

  test("long-string columns carry no stats (lean manifests) but still read correctly") {
    val dir = freshDir()
    val body = "x" * 200
    val df = (1L to 20L).map(i => (i, s"$body $i", s"t$i"))
      .toDF("doc_id", "body", "tag").repartitionByRange(2, col("doc_id"))
    SnapshotStore.commit(spark, dir, df, "ingest")
    val m = SnapshotStore.manifest(spark, dir, 1L)
    assert(m.stats.values.forall(!_.cols.contains("body")),
      "a >64-char string column must be dropped from stats")
    assert(m.stats.values.forall(_.cols.contains("tag")),
      "short string columns keep stats")
    import SnapshotStore.FilePredicate._
    // untracked column: no pruning, but the residual filter still applies
    val p = EqTo("body", s"$body 7")
    assert(SnapshotStore.prunedFiles(spark, dir, 1L, p).length == 2)
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, p).count() == 1L)
  }

  test("a z-order cluster commit makes the 2-d range predicate prune at file grain") {
    val dir = freshDir()
    val df = (0L until 1024L).map(i => (i, i % 32, i / 32, s"r$i"))
      .toDF("doc_id", "x", "y", "payload")
    SnapshotStore.commit(spark, dir, df, "ingest")
    SnapshotStore.cluster(spark, dir, "x", "y", nFiles = 16)
    import SnapshotStore.FilePredicate._
    val pred = And(between("x", 2L, 5L), between("y", 2L, 5L))
    val m = SnapshotStore.manifest(spark, dir, 2L)
    val pruned = SnapshotStore.prunedFiles(spark, dir, 2L, pred)
    assert(pruned.length < m.files.length,
      s"z-order locality must surface as file skipping: ${pruned.length} of ${m.files.length}")
    val skipped = SnapshotStore.readAsOfWhere(spark, dir, 2L, pred)
      .select("doc_id").as[Long].collect().toSet
    val full = SnapshotStore.readAsOf(spark, dir, 2L).filter(pred.toColumn)
      .select("doc_id").as[Long].collect().toSet
    assert(skipped == full && full.size == 16)
  }

  test("a hilbert cluster commit prunes like z-order and is a rewrite op for the change feed") {
    val dir = freshDir()
    val df = (0L until 1024L).map(i => (i, i % 32, i / 32, s"r$i"))
      .toDF("doc_id", "x", "y", "payload")
    SnapshotStore.commit(spark, dir, df, "ingest")
    val v = SnapshotStore.clusterHilbert(spark, dir, "x", "y", nFiles = 16)
    assert(SnapshotStore.manifest(spark, dir, v).operation == "hilbert")
    import SnapshotStore.FilePredicate._
    val pred = And(between("x", 2L, 5L), between("y", 2L, 5L))
    val pruned = SnapshotStore.prunedFiles(spark, dir, v, pred)
    assert(pruned.length < SnapshotStore.manifest(spark, dir, v).files.length)
    assert(SnapshotStore.readAsOfWhere(spark, dir, v, pred)
      .select("doc_id").as[Long].collect().toSet ==
      SnapshotStore.readAsOf(spark, dir, v).filter(pred.toColumn)
        .select("doc_id").as[Long].collect().toSet)
    assert(SnapshotStore.changedFiles(spark, dir, 1L, v).isEmpty,
      "a layout rewrite must surface nothing in the change feed")
  }

  test("an all-null stats column prunes under comparison predicates") {
    val dir = freshDir()
    val withNulls = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("doc_id", "text").repartition(1)
    val withVals = Seq((3L, Option("c")), (4L, Option("d")))
      .toDF("doc_id", "text").repartition(1)
    SnapshotStore.commit(spark, dir, withNulls.unionByName(withVals)
      .repartitionByRange(2, col("doc_id")), "ingest")
    import SnapshotStore.FilePredicate._
    val pred = GtEq("text", "a")
    val pruned = SnapshotStore.prunedFiles(spark, dir, 1L, pred)
    assert(pruned.length == 1, "the all-null file can match no comparison")
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L, pred)
      .select("doc_id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("readChangesSince delivers exactly the appended rows, skipping rewrite commits") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    SnapshotStore.commitAppend(spark, dir, docs(3L -> "c"), "append")
    SnapshotStore.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    SnapshotStore.commitAppend(spark, dir, docs(4L -> "d", 5L -> "e"), "append")
    // (1, 4]: the two appends' rows, never the compaction's rewrites
    assert(SnapshotStore.readChangesSince(spark, dir, 1L, 4L)
      .as[(Long, String)].collect().toSet ==
      Set(3L -> "c", 4L -> "d", 5L -> "e"))
    // a rewrite-only range is empty (schema intact)
    val empty = SnapshotStore.readChangesSince(spark, dir, 2L, 3L)
    assert(empty.count() == 0L && empty.columns.toSeq == Seq("doc_id", "text"))
    // from scratch: (0, latest] replays the whole logical history exactly once
    assert(SnapshotStore.readChangesSince(spark, dir, 0L, 4L)
      .as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
    // a vacuumed range refuses rather than under-delivering
    SnapshotStore.vacuum(spark, dir, retain = 2)
    intercept[RuntimeException] {
      SnapshotStore.changedFiles(spark, dir, 0L, 4L)
    }
  }

  test("readChangesSinceWhere prunes added files by stats and matches the filtered feed") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartitionByRange(2, col("doc_id")), "ingest")
    SnapshotStore.commitAppend(spark, dir,
      (101L to 300L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")), "append")
    import SnapshotStore.FilePredicate._
    val pred = between("doc_id", 120L, 140L)
    val got = SnapshotStore.readChangesSinceWhere(spark, dir, 1L, 2L, pred)
    assert(got.select("doc_id").as[Long].collect().toSet ==
      SnapshotStore.readChangesSince(spark, dir, 1L, 2L)
        .filter(pred.toColumn).select("doc_id").as[Long].collect().toSet)
    assert(got.count() == 21L)
    // the scan itself touched fewer than all four added files
    val added = SnapshotStore.changedFiles(spark, dir, 1L, 2L)
    val stats = SnapshotStore.manifest(spark, dir, 2L).stats
    assert(added.count(f => stats.get(f).forall(
      pred.mightMatch(_, SnapshotStore.FilePredicate.NoBlooms))) < added.length)
  }

  test("a self-contained log entry at any version, v1 included, fails " +
    "reconstruction and the range read, naming the version") {
    // hand-write version v in the `files` form earlier builds logged v1 in
    def writeFilesForm(dir: String, v: Long, files: Seq[String]): Unit = {
      val p = new Path(f"$dir/_manifests/v$v%08d.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listed = files.map(f => "\"" + f + "\"").mkString(",")
      val out = fs.create(p, false)
      try out.write((s"""{"version":$v,"files":[$listed],""" +
        s""""operation":"hand-written","ts":$v}""").getBytes("UTF-8"))
      finally out.close()
    }
    def refused(v: Long)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(e.getMessage.contains(s"version $v "), e.getMessage)
    }
    val young = freshDir()
    writeFilesForm(young, 1L, Seq(s"$young/data/v1-ingest/part-0.parquet"))
    refused(1L)(SnapshotStore.readAsOf(spark, young, 1L))
    refused(1L)(SnapshotStore.readChangesSince(spark, young, 0L, 1L))
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    writeFilesForm(dir, 2L, SnapshotStore.manifest(spark, dir, 1L).files)
    refused(2L)(SnapshotStore.readAsOf(spark, dir, 2L))
    refused(2L)(SnapshotStore.readChangesSince(spark, dir, 1L, 2L))
  }

  test("an entry without a schema, an add without stats, or stats " +
    "without bytes fails reconstruction and the range read, naming the " +
    "version") {
    import org.json4s.jvalue2monadic
    import org.json4s.jackson.JsonMethods
    // strip one required field from a committed v2 entry — the forms
    // earlier builds could log
    Seq("schema" -> "records no schema",
      "s" -> "records an add without stats",
      "bytes" -> "records file stats without bytes").foreach {
      case (field, reason) =>
        val dir = freshDir()
        SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
        SnapshotStore.commitAppend(spark, dir, docs(2L -> "b"), "append")
        val p = new Path(s"$dir/_manifests/v00000002.json")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        val entry = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        val stripped = JsonMethods.compact(JsonMethods.render(
          JsonMethods.parse(entry).removeField(_._1 == field)))
        assert(stripped != entry, s"v2 must log a `$field` field")
        val out = fs.create(p, true)
        try out.write(stripped.getBytes("UTF-8")) finally out.close()
        SnapshotStore.clearManifestCacheForTest()
        Seq[() => Any](() => SnapshotStore.readAsOf(spark, dir, 2L),
          () => SnapshotStore.readChangesSince(spark, dir, 1L, 2L)).foreach {
          read =>
            val e = intercept[Exception](read())
            assert(e.getMessage.contains(s"version 2 $reason"), e.getMessage)
        }
    }
  }

  test("the change feed reads one log entry per version in its range, " +
    "never walking back to the checkpoint") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    (2L to 16L).foreach(v =>
      SnapshotStore.commitAppend(spark, dir, docs(v -> s"t$v"), "append"))
    // v10 carries the last checkpoint: a reconstruction of v16 would open
    // it and the six deltas after it
    import SnapshotStore.FilePredicate._
    def reads[T](body: => T): (T, Long) = {
      SnapshotStore.clearManifestCacheForTest()
      val mr0 = SnapshotStore.manifestReadCount.get()
      val out = body
      (out, SnapshotStore.manifestReadCount.get() - mr0)
    }
    val (got, n) = reads(SnapshotStore.readChangesSince(spark, dir, 15L, 16L)
      .as[(Long, String)].collect().toSeq)
    assert(got == Seq(16L -> "t16"))
    assert(n <= 2, s"readChangesSince(15, 16) opened $n log entries")
    val (sliced, m) = reads(SnapshotStore.readChangesSinceWhere(spark, dir,
      14L, 16L, EqTo("doc_id", 15L)).as[(Long, String)].collect().toSeq)
    assert(sliced == Seq(15L -> "t15"))
    assert(m <= 2, s"readChangesSinceWhere(14, 16) opened $m log entries")
  }

  test("an interval checkpoint commit takes its base from the warm manifest " +
    "cache and runs no stage beyond the data write") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    // v10's interval checkpoint leaves its manifest in the cache
    (2L to 18L).foreach(v =>
      SnapshotStore.commitAppend(spark, dir, docs(v -> s"t$v"), "append"))
    val plain = counted(
      SnapshotStore.commitAppend(spark, dir, docs(19L -> "t19"), "append"))
    val ckpt = counted(
      SnapshotStore.commitAppend(spark, dir, docs(20L -> "t20"), "append"))
    // the driver writes the checkpoint parts: no Spark job
    assert(ckpt("stagesCompleted") == plain("stagesCompleted"),
      s"v20 commit $ckpt against v19 commit $plain")
    SnapshotStore.clearManifestCacheForTest()
    assert(SnapshotStore.manifest(spark, dir, 20L).files.length == 20)
    assert(SnapshotStore.read(spark, dir).as[(Long, String)].collect().toSet ==
      ((2L to 20L).map(v => v -> s"t$v") :+ (1L -> "a")).toSet)
  }

  test("a range file masked by a deletion vector at toVersion reads " +
    "without its deleted rows") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    SnapshotStore.commitAppend(spark, dir,
      docs(2L -> "b", 3L -> "c", 4L -> "d").coalesce(1), "append")
    import SnapshotStore.FilePredicate._
    val v = SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 3L))
    assert(SnapshotStore.manifest(spark, dir, v).dvs.nonEmpty,
      "the delete must mask the file with a vector, not rewrite it")
    assert(SnapshotStore.readChangesSince(spark, dir, 1L, v)
      .as[(Long, String)].collect().toSet == Set(2L -> "b", 4L -> "d"))
    assert(SnapshotStore.readChangesSinceWhere(spark, dir, 1L, v,
      GtEq("doc_id", 3L)).as[(Long, String)].collect().toSet == Set(4L -> "d"))
  }

  test("a partitioned table's range reads its partition values") {
    val dir = freshDir()
    def rows(rs: (Long, String, String)*) = rs.toDF("doc_id", "text", "lang")
    SnapshotStore.commit(spark, dir, rows((1L, "a", "en"), (2L, "b", "de")),
      "ingest", partitionBy = Seq("lang"))
    SnapshotStore.commitAppend(spark, dir,
      rows((3L, "c", "fr"), (4L, "d", "en")), "append")
    val got = SnapshotStore.readChangesSince(spark, dir, 1L, 2L)
    assert(got.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(got.as[(Long, String, String)].collect().toSet ==
      Set((3L, "c", "fr"), (4L, "d", "en")))
    import SnapshotStore.FilePredicate._
    assert(SnapshotStore.readChangesSinceWhere(spark, dir, 1L, 2L,
      EqTo("lang", "en")).as[(Long, String, String)].collect().toSeq ==
      Seq((4L, "d", "en")))
    // an empty range keeps the table's columns
    val empty = SnapshotStore.readChangesSince(spark, dir, 2L, 2L)
    assert(empty.count() == 0L &&
      empty.columns.toSeq == Seq("doc_id", "text", "lang"))
  }

  test("readChangesSinceWhere equals the filtered readChangesSince over " +
    "rewrites and a column rename") {
    val dir = freshDir()
    def frame(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"t$i")).toDF("doc_id", "text").repartition(2)
    SnapshotStore.commit(spark, dir, frame(1L, 40L), "ingest")
    SnapshotStore.commitAppend(spark, dir, frame(41L, 80L), "append")
    SnapshotStore.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    SnapshotStore.renameColumn(spark, dir, "doc_id", "id")
    val latest = SnapshotStore.commitAppend(spark, dir,
      frame(81L, 120L).withColumnRenamed("doc_id", "id"), "append")
    import SnapshotStore.FilePredicate._
    for (from <- 0L until latest;
         pred <- Seq(between("id", 30L, 90L), EqTo("id", 100L), Lt("id", 0L))) {
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("id").as[Long].collect().toSet
      assert(ids(SnapshotStore.readChangesSinceWhere(spark, dir, from, latest, pred)) ==
        ids(SnapshotStore.readChangesSince(spark, dir, from, latest)
          .filter(pred.toColumn)), s"range ($from, $latest] under $pred")
    }
  }

  test("deleteWhere rewrites ONLY might-match files; answer = full-scan filter") {
    val dir = freshDir()
    val df = (1L to 400L).map(i => (i, s"t$i", (i % 5).toDouble))
      .toDF("doc_id", "text", "score")
      .repartitionByRange(8, col("doc_id")) // narrow id range per file
    SnapshotStore.commit(spark, dir, df, "ingest")
    val before = SnapshotStore.manifest(spark, dir, 1L)
    import SnapshotStore.FilePredicate._
    val v = SnapshotStore.deleteWhere(spark, dir, between("doc_id", 90L, 110L))
    assert(v == 2L)
    val after = SnapshotStore.manifest(spark, dir, v)
    assert(after.operation == "delete")
    // copy-on-write at file grain: most of the prior files are CARRIED
    val carried = after.files.toSet.intersect(before.files.toSet)
    assert(carried.size >= 6,
      s"a narrow delete on a range layout must carry most files: ${carried.size} of 8")
    assert(after.stats.keySet == after.files.toSet, "carried files keep stats")
    assert(SnapshotStore.readAsOf(spark, dir, v)
      .select("doc_id").as[Long].collect().toSet ==
      ((1L to 89L) ++ (111L to 400L)).toSet)
    // prior version untouched
    assert(SnapshotStore.readAsOf(spark, dir, 1L).count() == 400L)
    // a provably-no-match delete commits NO new version
    assert(SnapshotStore.deleteWhere(spark, dir, between("doc_id", 5000L, 6000L)) == v)
    assert(SnapshotStore.latestVersion(spark, dir).contains(v))
  }

  test("deleteWhere keeps null-predicate rows (SQL DELETE semantics)") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      Seq((1L, Option("a")), (2L, Option.empty[String]), (3L, Option("x")))
        .toDF("doc_id", "tag").repartition(1), "ingest")
    import SnapshotStore.FilePredicate._
    val v = SnapshotStore.deleteWhere(spark, dir, EqTo("tag", "x"))
    assert(SnapshotStore.readAsOf(spark, dir, v)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "a null predicate must KEEP the row, not delete it")
  }

  test("merge replaces same-key rows, appends new keys, carries off-envelope files") {
    val dir = freshDir()
    val base = (1L to 400L).map(i => (i, s"v1-$i"))
      .toDF("doc_id", "text").repartitionByRange(8, col("doc_id"))
    SnapshotStore.commit(spark, dir, base, "ingest")
    val before = SnapshotStore.manifest(spark, dir, 1L)
    // an UPDATE merge with a narrow key envelope...
    val updates = Seq((100L, "UPD"), (101L, "UPD")).toDF("doc_id", "text")
    val v2 = SnapshotStore.merge(spark, dir, updates, Seq("doc_id"))
    assert(v2 == 2L)
    val after = SnapshotStore.manifest(spark, dir, v2)
    assert(after.operation == "merge")
    val carried = after.files.toSet.intersect(before.files.toSet)
    assert(carried.size >= 5,
      s"a narrow-envelope merge must carry off-envelope files: ${carried.size} of 8")
    // ...then an INSERT merge past the table's tail: the envelope
    // intersects at most the tail file — nearly everything carries
    val inserts = Seq((401L, "NEW"), (402L, "NEW")).toDF("doc_id", "text")
    val v = SnapshotStore.merge(spark, dir, inserts, Seq("doc_id"))
    val after3 = SnapshotStore.manifest(spark, dir, v)
    val carried3 = after3.files.toSet.intersect(after.files.toSet)
    assert(after3.files.size - carried3.size <= 2,
      s"an insert-only merge past the tail must rewrite at most the tail file")
    val got = SnapshotStore.readAsOf(spark, dir, v)
      .as[(Long, String)].collect().toMap
    assert(got.size == 402)
    assert(got(100L) == "UPD" && got(101L) == "UPD")
    assert(got(401L) == "NEW" && got(402L) == "NEW")
    assert(got(99L) == "v1-99" && got(400L) == "v1-400")
    // time travel to the pre-merge state still works
    assert(SnapshotStore.readAsOf(spark, dir, 1L)
      .as[(Long, String)].collect().toMap.apply(100L) == "v1-100")
    // empty delta: no-op, no new version
    assert(SnapshotStore.merge(spark, dir, updates.limit(0), Seq("doc_id")) == v)
    // null keys refuse loudly
    intercept[IllegalArgumentException] {
      SnapshotStore.merge(spark, dir,
        Seq((Option.empty[java.lang.Long], "bad")).toDF("doc_id", "text"),
        Seq("doc_id"))
    }
    // duplicate keys in the delta refuse loudly BEFORE any commit (both
    // copies would survive the anti-join+union — the ANSI/Delta "cannot
    // update the same row twice" contract)
    val dupErr = intercept[IllegalArgumentException] {
      SnapshotStore.merge(spark, dir,
        Seq((7L, "x"), (7L, "y")).toDF("doc_id", "text"), Seq("doc_id"))
    }
    assert(dupErr.getMessage.contains("duplicate keys"))
    assert(SnapshotStore.latestVersion(spark, dir).contains(v),
      "the refused duplicate-key merge must not commit")
    // a CALLER-persisted delta is used as-is and stays cached afterwards
    val callerCached = Seq((402L, "CC")).toDF("doc_id", "text").persist()
    callerCached.count()
    SnapshotStore.merge(spark, dir, callerCached, Seq("doc_id"))
    assert(org.apache.spark.sql.graft.CacheBridge.isCached(callerCached),
      "merge must never unpersist its caller's cache")
    callerCached.unpersist()
    // first merge into an empty table is a plain commit
    val dir2 = freshDir()
    assert(SnapshotStore.merge(spark, dir2,
      updates.unionByName(inserts), Seq("doc_id")) == 1L)
    assert(SnapshotStore.read(spark, dir2).count() == 4L)
  }

  test("merge then deleteWhere chain through one protocol; change feed sees CoW files") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 100L).map(i => (i, s"v1-$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")), "ingest")
    SnapshotStore.merge(spark, dir,
      Seq((50L, "UPD"), (101L, "NEW")).toDF("doc_id", "text"), Seq("doc_id"))
    import SnapshotStore.FilePredicate._
    val v3 = SnapshotStore.deleteWhere(spark, dir, between("doc_id", 1L, 10L))
    assert(SnapshotStore.readAsOf(spark, dir, v3)
      .select("doc_id").as[Long].collect().toSet ==
      ((11L to 101L)).toSet)
    // content commits surface their written files in the ADD feed
    assert(SnapshotStore.changedFiles(spark, dir, 1L, 2L).nonEmpty)
    assert(SnapshotStore.changedFiles(spark, dir, 2L, 3L).nonEmpty)
  }

  test("additive schema evolution: appended column null-fills old files; old versions keep old shape") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    SnapshotStore.commitAppend(spark, dir,
      Seq((3L, "c", "en")).toDF("doc_id", "text", "lang"), "append")
    val v2 = SnapshotStore.read(spark, dir)
    assert(v2.columns.toSeq == Seq("doc_id", "text", "lang"),
      "the union schema appends the new column")
    assert(v2.as[(Long, String, Option[String])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", Some("en"))),
      "pre-evolution files read the new column as null — no rewrite")
    assert(SnapshotStore.readAsOf(spark, dir, 1L).columns.toSeq ==
      Seq("doc_id", "text"), "time travel keeps the version's own schema")
    // the change feed reads under the evolved schema too
    assert(SnapshotStore.readChangesSince(spark, dir, 1L, 2L)
      .columns.toSeq == Seq("doc_id", "text", "lang"))
    // a delta omitting an existing column null-fills its own rows
    SnapshotStore.commitAppend(spark, dir,
      Seq((4L, "fr")).toDF("doc_id", "lang"), "append")
    assert(SnapshotStore.read(spark, dir)
      .filter($"doc_id" === 4L).select("text").as[Option[String]].head().isEmpty)
  }

  test("a column TYPE change refuses loudly; full-snapshot commit may retype") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    val err = intercept[RuntimeException] {
      SnapshotStore.commitAppend(spark, dir,
        Seq((2L, 42)).toDF("doc_id", "text"), "append")
    }
    assert(err.getMessage.contains("schema evolution conflict on column text"))
    assert(SnapshotStore.latestVersion(spark, dir).contains(1L),
      "the refused commit must not surface a version")
    // the refusal must not wedge the writer: a corrected append with the
    // SAME operation lands immediately (no orphan dir, no grace wait)
    assert(SnapshotStore.commitAppend(spark, dir,
      docs(2L -> "b"), "append") == 2L)
    assert(SnapshotStore.read(spark, dir).count() == 2L)
    // a full snapshot REPLACES the schema (no carried files to conflict)
    SnapshotStore.commit(spark, dir, Seq((9L, 42)).toDF("doc_id", "text"), "retype")
    assert(SnapshotStore.read(spark, dir).schema("text").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("merge with an evolved delta: survivors null-fill the new column") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    SnapshotStore.merge(spark, dir,
      Seq((2L, "B2", 0.9), (3L, "c", 0.5)).toDF("doc_id", "text", "score"),
      Seq("doc_id"))
    val rows = SnapshotStore.read(spark, dir)
      .as[(Long, String, Option[Double])].collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "B2", Some(0.9)),
      (3L, "c", Some(0.5))))
  }

  test("clusterN (3-d z-order) prunes at file grain on EVERY clustered dimension") {
    val dir = freshDir()
    val df = (0L until 4096L)
      .map(i => (i, i % 16, (i / 16) % 16, i / 256, s"r$i"))
      .toDF("doc_id", "x", "y", "w", "payload")
    SnapshotStore.commit(spark, dir, df, "ingest")
    val v = SnapshotStore.clusterN(spark, dir, Seq("x", "y", "w"),
      nFiles = 16, bits = 4)
    import SnapshotStore.FilePredicate._
    val m = SnapshotStore.manifest(spark, dir, v)
    Seq("x", "y", "w").foreach { dim =>
      val pred = between(dim, 2L, 3L)
      val pruned = SnapshotStore.prunedFiles(spark, dir, v, pred)
      assert(pruned.length < m.files.length,
        s"a slice on $dim must file-skip: ${pruned.length} of ${m.files.length}")
      assert(SnapshotStore.readAsOfWhere(spark, dir, v, pred)
        .select("doc_id").as[Long].collect().toSet ==
        SnapshotStore.readAsOf(spark, dir, v).filter(pred.toColumn)
          .select("doc_id").as[Long].collect().toSet,
        s"pruning on $dim must be invisible in the answer")
    }
  }

  test("history summarizes the retained commit log") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    SnapshotStore.commitAppend(spark, dir, docs(3L -> "c"), "append")
    import SnapshotStore.FilePredicate._
    SnapshotStore.deleteWhere(spark, dir, EqTo("doc_id", 2L))
    val h = SnapshotStore.history(spark, dir)
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(h.map(r => (r._1, r._2, r._4)).toSeq ==
      Seq((1L, "ingest", 2L), (2L, "append", 3L), (3L, "delete", 2L)),
      "per-version operation + exact row counts from the manifest stats")
    assert(h.forall(_._5 > 0L), "recorded byte sums surface")
    assert(h.forall(_._6 == 2L), "schema width surfaces")
    assert(h.forall(_._7 > 0L) && h.map(_._7).sorted.toSeq == h.map(_._7).toSeq,
      "commit timestamps surface, non-decreasing")
  }

  test("readRowChanges: CDF vocabulary across a merge+delete chain; unchanged rows never surface") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("doc_id", "text", "score"), "ingest")
    SnapshotStore.merge(spark, dir,
      Seq((2L, "B2", 20L), (4L, "d", 40L)).toDF("doc_id", "text", "score"),
      Seq("doc_id"))
    import SnapshotStore.FilePredicate._
    SnapshotStore.deleteWhere(spark, dir, EqTo("doc_id", 3L))
    val got = SnapshotStore.readRowChanges(spark, dir, 1L, 3L, Seq("doc_id"))
      .as[(Long, String, Long, String)].collect().toSet
    assert(got == Set(
      (2L, "b", 20L, "update_preimage"),
      (2L, "B2", 20L, "update_postimage"),
      (3L, "c", 30L, "delete"),
      (4L, "d", 40L, "insert")),
      "per-key CDF rows; key 1 (unchanged) absent")
    // schema evolution between the versions: the new column's arrival
    // alone reports as an update with a null preimage
    SnapshotStore.commitAppend(spark, dir,
      Seq((5L, "e", 50L, "en")).toDF("doc_id", "text", "score", "lang"),
      "append")
    val evo = SnapshotStore.readRowChanges(spark, dir, 3L, 4L, Seq("doc_id"))
      .as[(Long, String, Long, Option[String], String)].collect().toSet
    assert(evo == Set((5L, "e", 50L, Some("en"), "insert")),
      "rows whose evolved column is null on both sides stay unchanged")
  }

  test("readRowChanges: a null-keyed row unchanged across versions never surfaces") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      Seq((Option(1L), "a"), (Option.empty[Long], "x"))
        .toDF("doc_id", "text"), "ingest")
    SnapshotStore.commitAppend(spark, dir,
      Seq((Option(2L), "b")).toDF("doc_id", "text"), "append")
    val got = SnapshotStore.readRowChanges(spark, dir, 1L, 2L, Seq("doc_id"))
      .as[(Option[Long], String, String)].collect().toSet
    assert(got == Set((Some(2L), "b", "insert")),
      "the null-keyed row matches itself (null-safe key join), " +
        "never a spurious delete+insert pair")
  }

  test("null-count stats: IS NULL / IS NOT NULL prune at file grain (round 15)") {
    val dir = freshDir()
    // file A: no nulls; file B: all null; file C: mixed
    val a = (1L to 10L).map(i => (i, Option(s"t$i"))).toDF("doc_id", "tag")
      .repartition(1)
    val b = (11L to 20L).map(i => (i, Option.empty[String])).toDF("doc_id", "tag")
      .repartition(1)
    val c = Seq((21L, Option("x")), (22L, Option.empty[String]))
      .toDF("doc_id", "tag").repartition(1)
    // three single-file commits — exact file boundaries per group (a
    // unioned local frame would fold into one partition)
    SnapshotStore.commit(spark, dir, a, "ingest")
    SnapshotStore.commitAppend(spark, dir, b, "append")
    val v = SnapshotStore.commitAppend(spark, dir, c, "append")
    val m = SnapshotStore.manifest(spark, dir, v)
    assert(m.files.length == 3)
    assert(m.stats.values.forall(_.cols("tag").nulls.isDefined),
      "commits record exact per-column null counts")
    import SnapshotStore.FilePredicate._
    // IS NULL prunes the zero-null file
    val isNull = IsNull("tag")
    assert(SnapshotStore.prunedFiles(spark, dir, v, isNull).length == 2,
      "the no-null file cannot match IS NULL")
    assert(SnapshotStore.readAsOfWhere(spark, dir, v, isNull)
      .select("doc_id").as[Long].collect().toSet ==
      ((11L to 20L) :+ 22L).toSet)
    // IS NOT NULL prunes the all-null file — the most common cleaning
    // predicate skips it entirely
    val notNull = IsNotNull("tag")
    assert(SnapshotStore.prunedFiles(spark, dir, v, notNull).length == 2,
      "the all-null file cannot match IS NOT NULL")
    assert(SnapshotStore.readAsOfWhere(spark, dir, v, notNull)
      .select("doc_id").as[Long].collect().toSet ==
      ((1L to 10L) :+ 21L).toSet)
    // and the same pruning reaches a PLAIN .filter through the Catalyst
    // index — no FilePredicate plumbing
    val (df, idx) = SnapshotFileIndex.readAsOfTableWithIndex(spark, dir, v)
    assert(df.filter(col("tag").isNotNull).count() == 11L)
    assert(idx.lastListedCount == 2,
      s"IS NOT NULL must file-skip through the index: ${idx.lastListedCount}")
  }

  test("schema evolution resolves names case-insensitively (session default): a re-spelled column is the SAME column") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      Seq((1L, "a", "en")).toDF("doc_id", "text", "lang"), "ingest")
    // the delta re-spells lang as Lang: matches the committed column —
    // no duplicate spelling may land in the union schema
    SnapshotStore.commitAppend(spark, dir,
      Seq((2L, "b", "de")).toDF("doc_id", "text", "Lang"), "append")
    val read = SnapshotStore.read(spark, dir)
    assert(read.columns.toSeq == Seq("doc_id", "text", "lang"),
      s"committed spelling wins; got ${read.columns.toSeq}")
    assert(read.select("doc_id", "lang").as[(Long, String)].collect().toSet ==
      Set((1L, "en"), (2L, "de")),
      "the re-spelled delta column reads back as the same column")
    // a case-only TYPE conflict still refuses loudly
    val err = intercept[RuntimeException] {
      SnapshotStore.commitAppend(spark, dir,
        Seq((3L, 42)).toDF("doc_id", "Text"), "append")
    }
    assert(err.getMessage.contains("schema evolution conflict"))
    // a delta whose OWN columns collide case-only refuses loudly
    val err2 = intercept[RuntimeException] {
      SnapshotStore.commitAppend(spark, dir,
        Seq((4L, "x", "y")).toDF("doc_id", "tag", "TAG"), "append")
    }
    assert(err2.getMessage.contains("collide"))
    assert(SnapshotStore.latestVersion(spark, dir).contains(2L),
      "refused commits surface no version")
  }

  test("a refused EMPTY commit reclaims its staged dir — the writer's next attempt is not wedged") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    // a stage that writes nothing and carries nothing (Spark's writer
    // emits a schema-only part file even for empty frames, so the
    // zero-file refusal is reached through the staging contract) —
    // the refusal must reclaim the staged dir, not wedge the writer
    intercept[IllegalArgumentException] {
      SnapshotStore.commitFiles(spark, dir, "wipe") { dataDir =>
        // simulate a writer that staged the DIRECTORY but no files
        val p = new Path(dataDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
      }
    }
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/data/v00000002-wipe")),
      "the refused commit must reclaim its staged data dir")
    // same version + operation, immediately: no grace-horizon wedge
    assert(SnapshotStore.commit(spark, dir, docs(2L -> "b"), "wipe") == 2L)
  }

  test("merge racing a delete serializes to the serial-equivalent state (both orders)") {
    // order 1 (round 20 — the ConflictChecker contract): the DELETE
    // claims its version, then a rival MERGE commits first. The merge
    // REWROTE files the delete's selection read, so the delete refuses
    // TYPED (a silent re-run would hide that its observed state is
    // gone); the operator's deliberate re-issue then applies against
    // the merge's manifest and deletes the merged rows too — the same
    // serial-equivalent end state, with the conflict surfaced
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1L to 100L).map(i => (i, s"v1-$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")), "ingest")
    var fired = false
    SnapshotStore.onAttemptForTest = { (op, _) =>
      if (op == "delete" && !fired) {
        fired = true
        SnapshotStore.merge(spark, dir,
          Seq((50L, "UPD"), (101L, "NEW")).toDF("doc_id", "text"),
          Seq("doc_id"))
      }
    }
    try {
      import SnapshotStore.FilePredicate._
      val e = intercept[SnapshotStore.SnapshotConcurrentModificationException](
        SnapshotStore.deleteWhere(spark, dir, between("doc_id", 40L, 60L)))
      assert(e.getMessage.contains("version 2"),
        s"the refusal names the winning merge: ${e.getMessage}")
      val v = SnapshotStore.deleteWhere(spark, dir, between("doc_id", 40L, 60L))
      assert(v == 3L, "the deliberate re-issue lands at the next slot")
    } finally SnapshotStore.onAttemptForTest = (_, _) => ()
    val got = SnapshotStore.read(spark, dir).as[(Long, String)].collect().toMap
    assert(got.size == 80, s"100 + 1 insert - 21 deleted; got ${got.size}")
    assert(!got.contains(50L), "the merged row inside the delete range is gone")
    assert(got(101L) == "NEW")
    assert(SnapshotStore.manifest(spark, dir, 2L).operation == "merge")
    assert(SnapshotStore.manifest(spark, dir, 3L).operation == "delete")

    // order 2: the MERGE claims its version, then a rival DELETE commits
    // first — the merge's retry re-reads the delete's manifest, so the
    // deleted rows stay deleted and the merge applies on top
    val dir2 = freshDir()
    SnapshotStore.commit(spark, dir2,
      (1L to 100L).map(i => (i, s"v1-$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")), "ingest")
    var fired2 = false
    SnapshotStore.onAttemptForTest = { (op, _) =>
      if (op == "merge" && !fired2) {
        fired2 = true
        import SnapshotStore.FilePredicate._
        SnapshotStore.deleteWhere(spark, dir2, between("doc_id", 1L, 20L))
      }
    }
    try {
      SnapshotStore.merge(spark, dir2,
        Seq((10L, "RESURRECT"), (50L, "UPD")).toDF("doc_id", "text"),
        Seq("doc_id"))
    } finally SnapshotStore.onAttemptForTest = (_, _) => ()
    val got2 = SnapshotStore.read(spark, dir2).as[(Long, String)].collect().toMap
    assert(got2.size == 81, s"100 - 20 deleted + 1 re-inserted; got ${got2.size}")
    assert(got2(10L) == "RESURRECT", "the merge's new-key insert applies " +
      "on top of the delete (serial order: delete, then merge)")
    assert(got2(50L) == "UPD" && !got2.contains(11L))
    assert(SnapshotStore.manifest(spark, dir2, 2L).operation == "delete")
    assert(SnapshotStore.manifest(spark, dir2, 3L).operation == "merge")
  }

  test("restore commits the old content (files, schema, layout) as a NEW version — zero data copied") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    val filesV1 = SnapshotStore.manifest(spark, dir, 1L).files.toSet
    // evolve + mutate past the restore point
    SnapshotStore.commitAppend(spark, dir,
      Seq((3L, "c", 0.5)).toDF("doc_id", "text", "score"), "append")
    import SnapshotStore.FilePredicate._
    SnapshotStore.deleteWhere(spark, dir, EqTo("doc_id", 1L))
    val v = SnapshotStore.restore(spark, dir, 1L)
    assert(v == 4L)
    val m = SnapshotStore.manifest(spark, dir, v)
    assert(m.operation == "restore")
    assert(m.files.toSet == filesV1, "the restored manifest re-references " +
      "version 1's immutable files — no data copied")
    val restored = SnapshotStore.read(spark, dir)
    assert(restored.columns.toSeq == Seq("doc_id", "text"),
      "restore restores the OLD schema, not the evolved one")
    assert(restored.as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b"))
    // intermediate history is preserved
    assert(SnapshotStore.readAsOf(spark, dir, 3L).count() == 2L)
    // and the table keeps evolving normally after the restore
    SnapshotStore.commitAppend(spark, dir, docs(9L -> "z"), "append")
    assert(SnapshotStore.read(spark, dir).count() == 3L)
  }

  test("shallow clone: zero-copy sandbox; mutations on either side never leak to the other") {
    val src = freshDir()
    val tgt = freshDir()
    SnapshotStore.commit(spark, src,
      (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .repartitionByRange(4, col("doc_id")), "ingest")
    val v = SnapshotStore.cloneTable(spark, src, 1L, tgt)
    assert(v == 1L)
    val mT = SnapshotStore.manifest(spark, tgt, 1L)
    assert(mT.operation == "clone")
    assert(mT.files.toSet ==
      SnapshotStore.manifest(spark, src, 1L).files.toSet,
      "shallow: the clone references the SOURCE's files")
    val fs = new Path(tgt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$tgt/data")),
      "zero bytes under the clone until it mutates")
    // mutate the CLONE: source unaffected; the rewrite lands under tgt
    import SnapshotStore.FilePredicate._
    SnapshotStore.deleteWhere(spark, tgt, between("doc_id", 1L, 50L))
    assert(SnapshotStore.read(spark, tgt).count() == 50L)
    assert(SnapshotStore.read(spark, src).count() == 100L,
      "clone mutation never touches the source")
    // mutate the SOURCE: clone's committed state unaffected
    SnapshotStore.deleteWhere(spark, src, between("doc_id", 90L, 100L))
    assert(SnapshotStore.read(spark, tgt).count() == 50L)
    // the clone's vacuum reclaims only ITS data root
    SnapshotStore.vacuum(spark, tgt, retain = 1)
    assert(SnapshotStore.read(spark, src).count() == 89L,
      "clone vacuum must never reclaim source files")
    // a second clone into a non-empty table refuses
    intercept[IllegalArgumentException] {
      SnapshotStore.cloneTable(spark, src, 1L, tgt)
    }
    // deep clone decouples: bytes copied under the target
    val tgt2 = freshDir()
    SnapshotStore.cloneTable(spark, src, 1L, tgt2, copyData = true)
    assert(SnapshotStore.manifest(spark, tgt2, 1L).files
      .forall(_.contains(tgt2)), "deep clone owns its bytes")
    assert(SnapshotStore.read(spark, tgt2).count() == 100L)
  }

  test("diffVersions composes CorpusDiff across the manifest log") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      docs(1L -> "same", 2L -> "old", 3L -> "gone"), "ingest")
    SnapshotStore.commit(spark, dir,
      docs(1L -> "same", 2L -> "new", 4L -> "born"), "upsert")
    val d = SnapshotStore.diffVersions(spark, dir, 1L, 2L, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added"))
  }

  test("footer-derived stats are value-identical to the scan pass " +
    "across the supported type battery (the commit's second data pass " +
    "is gone, its stats are not)") {
    val dir = freshDir()
    import org.apache.spark.sql.types._
    // every statsSupported type except timestamp (INT96: the footer
    // path structurally refuses), plus nulls, negative decimals,
    // non-ASCII strings, and a >64-char string column both rules drop
    val df = spark.range(0, 101, 1, 3).selectExpr(
      "id AS k",
      "CAST(id % 7 AS INT) AS i32",
      "CAST(id % 3 AS SMALLINT) AS i16",
      "CAST(id % 2 AS TINYINT) AS i8",
      "CAST(CASE WHEN id % 5 = 0 THEN NULL ELSE id * 0.5 END AS DOUBLE) AS d",
      "CAST(id AS FLOAT) / 3.0F AS fl",
      "id % 2 = 0 AS b",
      "CASE WHEN id % 9 = 0 THEN NULL ELSE concat('véç-', id) END AS s",
      "repeat('y', 80 + CAST(id AS INT)) AS long_s",
      "DATE_ADD(DATE'2020-01-01', CAST(id AS INT)) AS dt",
      "CAST(CAST(id AS DOUBLE) / 4 - 50.25 AS DECIMAL(9,2)) AS dec9",
      "CAST(-7 * (CAST(id AS DOUBLE) + 0.3) AS DECIMAL(18,4)) AS dec18",
      "CAST(NULL AS STRING) AS all_null")
    SnapshotStore.commit(spark, dir, df, "ingest")
    val m = SnapshotStore.manifest(spark, dir, 1L)
    // recompute BOTH ways over the committed files and compare exactly
    val reread = spark.read.parquet(m.files: _*)
    val sizes = m.files.map(f => f -> 1L).toMap
    val viaFooters = SnapshotStore.collectStatsFromFooters(
      spark, reread.schema, m.files, sizes)
    assert(viaFooters.isDefined, "footer stats must engage on this table")
    // the one-pass schema+stats face agrees with read-based inference
    // (field names and types; read-back schemas are all-nullable, the
    // commit normalizes via asNullableSchema) and with the stats
    val schemaAndStats = SnapshotStore.footerSchemaAndStats(
      spark, m.files, sizes)
    assert(schemaAndStats.isDefined, "footer schema must engage here")
    assert(schemaAndStats.get._1.fields.map(f => (f.name, f.dataType)).toSeq ==
      reread.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"footer schema ${schemaAndStats.get._1} != inferred ${reread.schema}")
    assert(schemaAndStats.get._2 == viaFooters.get)
    val viaScan = SnapshotStore.collectStats(reread, m.files, sizes,
      bloomCols = Seq.empty, sidecarDir = s"$dir/_blooms")
    val ff = viaFooters.get
    assert(ff.keySet == viaScan.keySet, s"${ff.keySet} vs ${viaScan.keySet}")
    ff.foreach { case (f, st) =>
      val sc = viaScan(f)
      assert(st.rows == sc.rows, s"$f rows: ${st.rows} vs ${sc.rows}")
      assert(st.cols == sc.cols,
        s"$f col stats diverge:\n footer=${st.cols}\n scan  =${sc.cols}")
    }
    // and the committed manifest (which took the footer path) agrees too
    m.stats.foreach { case (f, st) =>
      assert(st.cols == viaScan(f).cols && st.rows == viaScan(f).rows,
        s"committed stats diverge from the scan for $f")
    }
    // the pruning face still works end-to-end on footer-derived stats
    import SnapshotStore.FilePredicate._
    assert(SnapshotStore.readAsOfWhere(spark, dir, 1L,
      And(between("k", 10L, 20L), IsNotNull("s"))).count() ==
      (10L to 20L).count(i => i % 9 != 0))
  }

  test("reserved maintenance names refuse at the public commit faces — " +
    "a data commit named like a rewrite would vanish from table_changes") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, docs(1L -> "a"), "ingest")
    Seq("compact", "zorder", "hilbert", "purge").foreach { op =>
      intercept[IllegalArgumentException] {
        SnapshotStore.commit(spark, dir, docs(2L -> "b"), op)
      }
      intercept[IllegalArgumentException] {
        SnapshotStore.commitAppend(spark, dir, docs(2L -> "b"), op)
      }
      // the merge faces take a caller-supplied name too, and their
      // NON-table-creating path never delegated to commit's guard
      // (round-22 advisor finding)
      intercept[IllegalArgumentException] {
        SnapshotStore.merge(spark, dir, docs(2L -> "b"),
          Seq("doc_id"), operation = op)
      }
      intercept[IllegalArgumentException] {
        SnapshotStore.mergeDv(spark, dir, docs(2L -> "b"),
          Seq("doc_id"), operation = op)
      }
      intercept[IllegalArgumentException] {
        SnapshotStore.mergeAuto(spark, dir, docs(2L -> "b"),
          Seq("doc_id"), operation = op)
      }
    }
    // the engine's own maintenance path still commits under the name
    SnapshotStore.compact(spark, dir)
    assert(SnapshotStore.read(spark, dir).count() == 1L)
  }
}
