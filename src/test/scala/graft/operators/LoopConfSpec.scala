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

  private val ScopeKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.enabled")

  test("a scope never writes the caller's conf: the caller reads the same " +
    "values before, inside and after, the clone reads the fitted count, " +
    "and a returned frame is the caller's") {
    val before = ScopeKeys.map(k => spark.conf.getOption(k))
    val tiny = spark.range(0, 10).toDF("a").localCheckpoint(true)
    var inside = Seq.empty[Option[String]]
    var fitted = -1
    val out = LoopConf.scopedByInputs(Seq(tiny)) { case Seq(t) =>
      val clone = t.sparkSession
      assert(clone ne spark, "the input must be rebound to a clone")
      inside = ScopeKeys.map(k => spark.conf.getOption(k))
      fitted = clone.conf.get("spark.sql.shuffle.partitions").toInt
      t.groupBy(col("a") % 2).count()
    }
    assert(fitted == 1, s"tiny cached input must run single-task, got $fitted")
    assert(inside == before, "the caller's conf changed inside the scope")
    assert(ScopeKeys.map(k => spark.conf.getOption(k)) == before,
      "the caller's conf changed after the scope")
    assert(out.sparkSession eq spark, "a returned frame must be the caller's")
    assert(out.count() == 2)
    tiny.unpersist()
  }

  test("a query planned on the session while a single-partition scope is " +
    "open keeps the session's settings, and two scopes are open at once") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val session = spark.conf.get("spark.sql.shuffle.partitions")
    val tiny = spark.range(0, 10).toDF("a").localCheckpoint(true)
    val open = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    def holder(settings: Seq[(String, String)]) = new Thread(() =>
      LoopConf.scoped(settings, Seq(tiny)) { _ =>
        open.countDown()
        release.await()
      })
    val a = holder(LoopConf.fitted(1))
    val second = holder(LoopConf.CoalesceBySize)
    a.start()
    second.start()
    try {
      assert(open.await(60, TimeUnit.SECONDS),
        "two scopes on one session must be open at the same time")
      var plan: SparkPlan = null
      var partitions = ""
      val b = new Thread(() => {
        plan = spark.range(1000).groupBy(col("id") % 7).count()
          .queryExecution.executedPlan
        partitions = spark.conf.get("spark.sql.shuffle.partitions")
      })
      b.start()
      b.join()
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
        s"the unrelated query lost AQE:\n$plan")
      assert(partitions == session)
    } finally release.countDown()
    a.join()
    second.join()
    tiny.unpersist()
  }

  test("every stage PageRank and connectedComponents run on a toy graph " +
    "has one task: no frame in their bodies plans with the session's " +
    "partition count") {
    // a session of the test's own whose AQE does not coalesce, so a frame
    // left bound to it plans its shuffles at its 4 partitions
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val edges = s.range(0, 40, 1, 1)
      .select((col("id") % 10).as("src"), ((col("id") * 3 + 1) % 10).as("dst"))
      .localCheckpoint(true)
    val pairs = s.range(0, 12, 1, 1)
      .select((col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b"))
      .localCheckpoint(true)
    val docs = s.range(0, 30, 1, 1).toDF("doc_id").localCheckpoint(true)
    val runs = Seq[(String, () => Unit)](
      "PageRank" -> (() => PageRank(edges, 3)),
      "connectedComponents" ->
        (() => graft.dedup.Dedup.connectedComponents(pairs, docs, "doc_id")))
    for ((name, run) <- runs) {
      val c = counted(run())
      assert(c("stagesCompleted") > 0, s"$name ran no stage: $c")
      assert(c("tasksCompleted") == c("stagesCompleted"),
        s"$name ran a stage of more than one task: $c")
    }
    Seq(edges, pairs, docs).foreach(_.unpersist())
  }
}
