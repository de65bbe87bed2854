package graft.storage

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

class ParquetFootersSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"
  private def freshDir() = Files.createTempDirectory("footers").toString
  private def inferred(p: String) = spark.read.parquet(p).schema

  test("the footer schema of every table equals Spark's inference") {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      val p = s"$sf/$t.parquet"
      assert(ParquetFooters.schema(spark, p) == inferred(p), t)
    }
  }

  test("events: the footer schema equals inference with nanosAsLong on and off") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    val p = s"$sf/events.parquet"
    try Seq("true", "false").foreach { v =>
      spark.conf.set(key, v)
      assert(ParquetFooters.schema(spark, p) == inferred(p), s"nanosAsLong=$v")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a Spark-written file with a non-nullable column and column metadata") {
    val dir = s"${freshDir()}/t"
    val md = new MetadataBuilder().putString("comment", "the key").build()
    val schema = StructType(Seq(StructField("id", LongType, nullable = false, md),
      StructField("s", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L, "a")), 1), schema)
      .write.parquet(dir)
    val f = ParquetFooters.schema(spark, dir)
    assert(f == inferred(dir))
    assert(f("id").metadata == md, "the row metadata was not read")
  }

  test("a multi-part Spark directory with _SUCCESS") {
    val dir = s"${freshDir()}/t"
    spark.range(0, 100, 1, 4).selectExpr("id", "cast(id AS string) AS s").write.parquet(dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    assert(ParquetFooters.schema(spark, dir) == inferred(dir))
  }

  test("a hive-partitioned directory reads with the partition columns from its paths") {
    val dir = s"${freshDir()}/t"
    spark.range(0, 40, 1, 2).selectExpr("id", "id % 4 AS k", "cast(id AS string) AS s")
      .write.partitionBy("k").parquet(dir)
    val f = ParquetFooters.schema(spark, dir)
    assert(!f.fieldNames.contains("k"))
    assert(spark.read.schema(f).parquet(dir).schema == inferred(dir))
  }

  test("the walk picks the footer of the first leaf in full-path order") {
    // `k=a.b/...` sorts before `k=a/...` ('.' < '/') although the name
    // `k=a` sorts first; the two directories disagree on x's type
    val dir = s"${freshDir()}/t"
    Seq(1L).toDF("x").write.parquet(s"$dir/k=a")
    Seq("s").toDF("x").write.parquet(s"$dir/k=a.b")
    val f = ParquetFooters.schema(spark, dir)
    assert(f("x").dataType == StringType)
    assert(spark.read.schema(f).parquet(dir).schema == inferred(dir))
  }

  test("a _common_metadata summary file is the footer Spark picks") {
    val dir = s"${freshDir()}/t"
    Seq(1L).toDF("x").coalesce(1).write.parquet(dir)
    val other = s"${freshDir()}/o"
    Seq("s").toDF("y").coalesce(1).write.parquet(other)
    val part = Files.list(Paths.get(other)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, Paths.get(dir, "_common_metadata"))
    assert(ParquetFooters.schema(spark, dir) == inferred(dir))
    assert(ParquetFooters.schema(spark, dir).fieldNames.toSeq == Seq("y"))
  }

  test("Tables.read of an uncached table runs no Spark stage") {
    val d = freshDir()
    Files.copy(Paths.get(s"$sf/region.parquet"), Paths.get(d, "region.parquet"))
    var df: org.apache.spark.sql.DataFrame = null
    val c = counted { df = Tables.read(spark, d, "region") }
    try {
      // an inferring read runs one stage
      assert(c("stagesCompleted") == 0L, s"$c")
      assert(df.schema == inferred(s"$d/region.parquet"))
    } finally df.unpersist()
  }

  test("a declared-bloom commit reads its fresh files back without an inference stage") {
    val df = (1L to 200L).map(i => (i, s"t$i")).toDF("doc_id", "text").repartition(2)
    // warm: the first commit of a JVM pays one-time set-up
    SnapshotStore.commit(spark, s"${freshDir()}/t", df, "ingest", bloomCols = Seq("doc_id"))
    val c = counted(SnapshotStore.commit(spark, s"${freshDir()}/t", df, "ingest",
      bloomCols = Seq("doc_id")))
    // an inferring read-back runs one stage more
    assert(c("stagesCompleted") == BloomCommitStages, s"$c")
  }

  private val BloomCommitStages = 4L
}
