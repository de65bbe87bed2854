package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LoopConfSpec extends SparkSpec {

  test("bytesHint measures a localCheckpointed frame from its cached " +
    "blocks — job-free (no count), exact-positive bytes") {
    val df = spark.range(0, 50000).selectExpr("id as a", "id*2 as b")
      .localCheckpoint(true)
    val hint = LoopConf.bytesHint(df)
    assert(hint.isDefined && hint.get > 0L, s"hint=$hint")
    // 2 longs x 50k rows: deserialized block bytes carry row-object
    // overhead (~84 B/row measured) — assert sane bounds, not raw width
    assert(hint.get >= 50000L * 8 && hint.get <= 50000L * 256, s"hint=$hint")
    df.unpersist()
  }

  test("bytesHint of a narrow transform over a cached leaf uses the " +
    "leaf's measured bytes (over-estimate = safe direction)") {
    val base = spark.range(0, 50000).selectExpr("id as a", "id*2 as b")
      .localCheckpoint(true)
    val derived = base.filter(col("a") % 100 === 0).select(col("a"))
    val hb = LoopConf.bytesHint(base)
    val hd = LoopConf.bytesHint(derived)
    assert(hd.isDefined && hd == hb,
      s"derived hint $hd should reuse the leaf measurement $hb")
    base.unpersist()
  }

  test("partitionsForBytes: toy input collapses to 1, at-scale input " +
    "clamps to the session's own partition count") {
    assert(LoopConf.partitionsForBytes(spark, 1024L) == 1)
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(LoopConf.partitionsForBytes(spark, Long.MaxValue / 4) == session)
  }

  test("scopedByInputs restores shuffle partitions, parallelismFirst and " +
    "the advisory size afterwards, and fits the count inside") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val before = keys.map(k => spark.conf.getOption(k))
    val tiny = spark.range(0, 10).toDF("a").localCheckpoint(true)
    val inside = LoopConf.scopedByInputs(spark, Seq(tiny)) {
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    }
    assert(inside == 1, s"tiny cached input must run single-task, got $inside")
    assert(keys.map(k => spark.conf.getOption(k)) == before,
      "conf must be restored exactly")
    tiny.unpersist()
  }

  test("a second scope on the same session does not enter while the " +
    "first is open, and every key either scope touched is restored") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.enabled")
    val before = keys.map(k => spark.conf.getOption(k))
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val firstOpen = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val first = new Thread(() => LoopConf.scoped(spark, 1) {
      events.add("first-in")
      firstOpen.countDown()
      release.await()
      events.add("first-out")
    })
    first.start()
    firstOpen.await()
    val second = new Thread(() =>
      LoopConf.scopedCoalesceBySize(spark)(events.add("second-in")))
    try {
      second.start()
      second.join(500) // ample time to enter, were the lock not shared
      assert(second.isAlive && !events.contains("second-in"),
        "the second scope entered while the first was open")
    } finally release.countDown()
    first.join()
    second.join()
    assert(events.toArray.toSeq == Seq("first-in", "first-out", "second-in"))
    assert(keys.map(k => spark.conf.getOption(k)) == before,
      "every key either scope touched must be restored exactly")
  }
}
