package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Contract of TYPE WIDENING (round 18 — `ALTER TABLE ... ALTER COLUMN
  * c TYPE <wider>` as a metadata-only commit):
  *
  *  - the widening commit moves ZERO data files; pre-widening files keep
  *    their native parquet types and every read upcasts to the widened
  *    logical type (pinned against the real parquet reader);
  *  - appends after the widening may arrive at either width — including
  *    values that did not fit the old type;
  *  - per-file stats pruning stays EXACT across mixed-width files (each
  *    file's stats carry its own recorded type);
  *  - narrowing / lossy / partition-column changes refuse as
  *    `AnalysisException`, and time travel to pre-widening versions
  *    serves the old schema.
  */
class SnapshotWidenSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapwiden").toFile
    d.delete()
    d.getAbsolutePath
  }

  test("the widening lattice: integral chain, float->double, decimal " +
    "growth widen; narrowing, cross-family, and nested changes refuse") {
    val w = SnapshotStore.widens _
    assert(w(ByteType, ShortType) && w(ByteType, IntegerType) &&
      w(ByteType, LongType) && w(ShortType, IntegerType) &&
      w(ShortType, LongType) && w(IntegerType, LongType) &&
      w(FloatType, DoubleType))
    assert(w(DecimalType(5, 2), DecimalType(12, 4)),
      "scale and integral digits both grow")
    assert(w(DecimalType(5, 2), DecimalType(7, 2)),
      "integral digits grow, scale kept")
    assert(!w(DecimalType(5, 2), DecimalType(5, 2)), "no-op is not a widen")
    assert(!w(DecimalType(5, 2), DecimalType(6, 4)),
      "integral digits would shrink (3 -> 2) — overflow risk")
    assert(!w(DecimalType(5, 2), DecimalType(4, 1)) &&
      !w(LongType, IntegerType) && !w(DoubleType, FloatType) &&
      !w(IntegerType, DoubleType) && !w(StringType, LongType) &&
      !w(IntegerType, IntegerType))
  }

  test("ALTER COLUMN TYPE is metadata-only: zero files move, old int " +
    "files read as bigint with values intact, post-widening appends " +
    "carry values beyond int range, and aggregates are exact") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1 to 100).map(i => (i, s"d$i")).toDF("id", "txt")
        .repartition(4), "ingest")
    val filesBefore = SnapshotStore.manifest(spark, dir, 1L).files
    assert(SnapshotStore.read(spark, dir).schema("id").dataType == IntegerType)
    SnapshotStore.alterColumnType(spark, dir, "id", LongType)
    val m2 = SnapshotStore.manifest(spark, dir, 2L)
    assert(m2.operation == "alter-column-type")
    assert(m2.files == filesBefore, "widening must move zero data files")
    assert(m2.schema("id").dataType == LongType)
    val post = SnapshotStore.read(spark, dir)
    assert(post.schema("id").dataType == LongType)
    assert(post.agg(sum("id")).as[Long].head() == 5050L,
      "pre-widening int values upcast exactly")
    // append values an int cannot hold
    val big = 1L << 40
    SnapshotStore.commitAppend(spark, dir,
      Seq((big, "big"), (big + 1, "bigger")).toDF("id", "txt"), "append-big")
    val all = SnapshotStore.read(spark, dir)
    assert(all.count() == 102L)
    assert(all.agg(max("id")).as[Long].head() == big + 1)
    assert(all.filter(col("id") > lit(1000L)).count() == 2L)
    // and a NARROWER post-widening append still lands (file stays int,
    // reads upcast)
    SnapshotStore.commitAppend(spark, dir,
      Seq((7, "narrow")).toDF("id", "txt"), "append-narrow")
    assert(SnapshotStore.read(spark, dir).count() == 103L)
    // time travel: v1 serves the pre-widening schema
    assert(SnapshotStore.readAsOf(spark, dir, 1L)
      .schema("id").dataType == IntegerType)
  }

  test("stats pruning stays exact across mixed-width files: each file's " +
    "recorded type drives its own comparison, and a beyond-int literal " +
    "prunes every pre-widening file") {
    val dir = freshDir()
    // 4 int files with disjoint ranges
    SnapshotStore.commit(spark, dir,
      (1 to 400).map(i => (i, i % 7)).toDF("id", "v")
        .repartitionByRange(4, col("id")), "ingest")
    SnapshotStore.alterColumnType(spark, dir, "id", LongType)
    val big = 1L << 40
    SnapshotStore.commitAppend(spark, dir,
      Seq((big, 1), (big + 5, 2)).toDF("id", "v").coalesce(1), "append-big")
    val latest = SnapshotStore.latestVersion(spark, dir).get
    // a literal beyond int range keeps ONLY the long file
    val hot = SnapshotStore.prunedFiles(spark, dir, latest,
      SnapshotStore.FilePredicate.GtEq("id", big))
    assert(hot.size == 1,
      s"only the post-widening file can hold >= 2^40, got ${hot.size}")
    // a mid-range literal prunes the long file AND the off-range ints
    val mid = SnapshotStore.prunedFiles(spark, dir, latest,
      SnapshotStore.FilePredicate.between("id", 150L, 160L))
    assert(mid.size == 1, s"one int file covers [150,160], got ${mid.size}")
    // correctness under the pruned reads
    assert(SnapshotStore.readAsOfWhere(spark, dir, latest,
      SnapshotStore.FilePredicate.GtEq("id", big)).count() == 2L)
    assert(SnapshotStore.readAsOfWhere(spark, dir, latest,
      SnapshotStore.FilePredicate.between("id", 150L, 160L)).count() == 11L)
  }

  test("float->double and decimal growth widen end-to-end; refusals: " +
    "narrowing, unknown column, partition column, already-at-type") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1 to 20).map(i => (i.toFloat / 2, BigDecimal(i).setScale(2)))
        .toDF("score", "amt")
        .withColumn("amt", col("amt").cast(DecimalType(8, 2))), "ingest")
    SnapshotStore.alterColumnType(spark, dir, "score", DoubleType)
    SnapshotStore.alterColumnType(spark, dir, "amt", DecimalType(16, 4))
    val got = SnapshotStore.read(spark, dir)
    assert(got.schema("score").dataType == DoubleType)
    assert(got.schema("amt").dataType == DecimalType(16, 4))
    assert(got.agg(sum("amt")).head().getDecimal(0)
      .compareTo(new java.math.BigDecimal("210.00")) == 0)
    assert(got.agg(max("score")).as[Double].head() == 10.0d)
    // refusals — all typed AnalysisException
    def refuses(body: => Unit, frag: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](body)
      assert(e.getMessage.contains(frag), s"message: ${e.getMessage}")
    }
    refuses(SnapshotStore.alterColumnType(spark, dir, "score", FloatType),
      "cannot change")
    refuses(SnapshotStore.alterColumnType(spark, dir, "amt",
      DecimalType(8, 2)), "cannot change")
    refuses(SnapshotStore.alterColumnType(spark, dir, "nope", LongType),
      "does not exist")
    refuses(SnapshotStore.alterColumnType(spark, dir, "score", DoubleType),
      "already of type")
    val pdir = freshDir()
    SnapshotStore.commit(spark, pdir,
      (1 to 10).map(i => (i, i % 2)).toDF("id", "p"), "ingest",
      partitionBy = Seq("p"))
    refuses(SnapshotStore.alterColumnType(spark, pdir, "p", LongType),
      "PARTITION column")
  }

  test("SQL face: ALTER TABLE ... ALTER COLUMN ... TYPE on a registered " +
    "table updates manifest AND catalog in lockstep; INSERT of a " +
    "beyond-int value works; bad type text and narrowing refuse") {
    val dir = freshDir()
    val tbl = "graft_widen_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    SnapshotStore.commit(spark, dir,
      (1 to 30).map(i => (i, s"t$i")).toDF("id", "txt"), "ingest")
    spark.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$dir')")
    try {
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN id TYPE bigint")
      assert(spark.table(tbl).schema("id").dataType == LongType,
        "catalog face resolves the widened type immediately")
      spark.sql(s"INSERT INTO $tbl VALUES (${1L << 40}, 'big')")
      assert(spark.sql(s"SELECT max(id) FROM $tbl").as[Long].head() ==
        (1L << 40))
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"ALTER TABLE $tbl ALTER COLUMN id TYPE int"))
      assert(e.getMessage.contains("cannot change"))
      val e2 = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"ALTER TABLE '$dir' ALTER COLUMN id TYPE wat"))
      assert(e2.getMessage.contains("cannot parse data type"))
      // quoted-path form widens the second column too
      spark.sql(s"ALTER TABLE '$dir' ADD COLUMNS (score FLOAT)")
      spark.sql(s"ALTER TABLE '$dir' ALTER COLUMN score TYPE double")
      assert(SnapshotStore.read(spark, dir)
        .schema("score").dataType == DoubleType)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("appends WIDER than the committed type still refuse (widen the " +
    "table first), and the message names the ALTER COLUMN path") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1 to 10).map(i => (i, s"t$i")).toDF("id", "txt"), "ingest")
    val e = intercept[RuntimeException](SnapshotStore.commitAppend(spark,
      dir, Seq((1L << 40, "big")).toDF("id", "txt"), "append-wide"))
    assert(e.getMessage.contains("ALTER COLUMN"),
      s"the refusal should route users to widening: ${e.getMessage}")
    // after the widening the same append lands
    SnapshotStore.alterColumnType(spark, dir, "id", LongType)
    SnapshotStore.commitAppend(spark, dir,
      Seq((1L << 40, "big")).toDF("id", "txt"), "append-wide")
    assert(SnapshotStore.read(spark, dir).count() == 11L)
  }

  test("widening a DATA column of a hive-PARTITIONED table upcasts " +
    "through the FileIndex read path, stats-prunes, and takes " +
    "beyond-range appends") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1 to 200).map(i => (i, i % 4)).toDF("id", "p"), "ingest",
      partitionBy = Seq("p"))
    SnapshotStore.alterColumnType(spark, dir, "id", LongType)
    val big = 1L << 40
    SnapshotStore.commitAppend(spark, dir,
      Seq((big, 1), (big + 1, 2)).toDF("id", "p"), "append-big")
    val got = SnapshotStore.read(spark, dir)
    assert(got.schema("id").dataType == LongType)
    assert(got.count() == 202L)
    assert(got.agg(max("id")).head().getLong(0) == big + 1)
    assert(got.filter(col("p") === 1).agg(sum("id")).head().getLong(0) ==
      (1 to 200).filter(_ % 4 == 1).map(_.toLong).sum + big,
      "partition pruning + upcast compose")
  }

  test("the row-grain change feed is WIDENING-transparent: a widening " +
    "between the boundary versions reports no phantom updates, output " +
    "types at the post (widened) schema, and the key may be the " +
    "widened column itself") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      (1 to 10).map(i => (i, s"t$i")).toDF("id", "txt"), "ingest")
    SnapshotStore.alterColumnType(spark, dir, "id", LongType)
    SnapshotStore.commitAppend(spark, dir,
      Seq((1L << 40, "big")).toDF("id", "txt"), "append")
    val ch = SnapshotStore.readRowChanges(spark, dir, 1L, 3L, Seq("txt"))
    assert(ch.schema("id").dataType == LongType,
      "the feed types at the post schema")
    val rows = ch.collect()
    assert(rows.length == 1 && rows(0).getString(2) == "insert" &&
      rows(0).getLong(1) == (1L << 40),
      s"only the appended row changes — int->long upcast must not " +
        s"report phantom updates, got ${rows.mkString("; ")}")
    val byKey = SnapshotStore.readRowChanges(spark, dir, 1L, 3L, Seq("id"))
      .collect()
    assert(byKey.length == 1 && byKey(0).getString(2) == "insert",
      "the widened column works as the feed key across the boundary")
  }

  test("STREAMING contract (round 19): a mid-stream widening fails the " +
    "stream with the TYPED restart refusal; a restart from the same " +
    "checkpoint re-pins at the widened schema and delivers exactly once") {
    val dir = freshDir()
    SnapshotStore.commit(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("id", "txt"), "ingest")
    val got = scala.collection.mutable.Set.empty[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("widen-ckpt").toString
    def start() = spark.readStream.format("graft-snapshot").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // read ids as Long either way — the PRE-widen batches carry int
        got ++= b.select(col("id").cast("long"), col("txt"))
          .as[(Long, String)].collect(); ()
      }.start()
    val q = start()
    q.processAllAvailable()
    assert(got == Set(1L -> "a", 2L -> "b"))
    // widen mid-stream, then land data that needs the wider type
    SnapshotStore.alterColumnType(spark, dir, "id", LongType)
    SnapshotStore.commitAppend(spark, dir,
      Seq((1L << 40, "big")).toDF("id", "txt"), "append")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(
      _.isInstanceOf[SnapshotSource.StreamSchemaChangedException]),
      s"the failure must be the TYPED refusal, got ${causes(e).map(_.getClass)}")
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("Restart the stream")),
      "the refusal tells the operator the remedy")
    // restart: re-pins at the widened schema, resumes from the offset
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(got == Set(1L -> "a", 2L -> "b", (1L << 40) -> "big"),
      s"exactly-once across the widening restart, got $got")
    // additive evolution is still restart-free (null-fill, no refusal)
    val q3 = start()
    q3.processAllAvailable()
    SnapshotStore.addColumns(spark, dir,
      Seq(org.apache.spark.sql.types.StructField("lang", StringType)))
    SnapshotStore.commitAppend(spark, dir,
      Seq((7L, "g", "en")).toDF("id", "txt", "lang"), "append")
    q3.processAllAvailable()
    q3.stop()
    assert(got.contains(7L -> "g"),
      "an added column never fails the pinned stream")
  }
}
