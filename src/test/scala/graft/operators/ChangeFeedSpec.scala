package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ChangeFeedSpec extends SparkSpec {

  test("diff classifies Insert / Update / Delete and drops unchanged") {
    import spark.implicits._
    val oldSnap = Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "name", "v")
    val newSnap = Seq((1, "a", 10), (2, "B", 20), (4, "d", 40)).toDF("id", "name", "v")
    val got = ChangeFeed.diff(oldSnap, newSnap, Seq("id"))
      .orderBy("id").collect().map(r => (r.getInt(1), r.getString(0))).toSeq
    assert(got == Seq((2, "Update"), (3, "Delete"), (4, "Insert")))
  }

  test("diff treats null-vs-value as a change, null-vs-null as unchanged") {
    import spark.implicits._
    val oldSnap = Seq((1, Option("x")), (2, Option.empty[String])).toDF("id", "name")
    val newSnap = Seq((1, Option.empty[String]), (2, Option.empty[String])).toDF("id", "name")
    val got = ChangeFeed.diff(oldSnap, newSnap, Seq("id"))
      .select("id", "Operation").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "Update")))
  }

  test("dedupLatest keeps exactly the max-version row per key") {
    import spark.implicits._
    val df = Seq((1, 1, "v1"), (1, 3, "v3"), (1, 2, "v2"), (2, 5, "w5"))
      .toDF("id", "ver", "payload")
    val got = ChangeFeed.dedupLatest(df, Seq("id"), "ver")
      .orderBy("id").as[(Int, Int, String)].collect().toSeq
    assert(got == Seq((1, 3, "v3"), (2, 5, "w5")))
  }

  test("toJsonPayload emits {Operation, Item} wire shape") {
    import spark.implicits._
    val changes = Seq(("Insert", 7, "n")).toDF("Operation", "id", "name")
    val json = ChangeFeed.toJsonPayload(changes).as[String].head()
    assert(json == """{"Operation":"Insert","Item":{"id":7,"name":"n"}}""")
  }

  test("dotted column names survive diff / dedupLatest / toJsonPayload") {
    import spark.implicits._
    // "user.name" is a legal top-level column name; unquoted col() would
    // parse it as a nested-field path and fail to resolve
    val df = Seq((1, 1, "v1"), (1, 2, "v2"), (2, 5, "w5"))
      .toDF("id", "meta.ver", "user.name")
    val got = ChangeFeed.dedupLatest(df, Seq("id"), "meta.ver")
      .orderBy("id").as[(Int, Int, String)].collect().toSeq
    assert(got == Seq((1, 2, "v2"), (2, 5, "w5")))

    val oldSnap = Seq((1, "a")).toDF("id", "user.name")
    val newSnap = Seq((1, "b")).toDF("id", "user.name")
    val diffed = ChangeFeed.diff(oldSnap, newSnap, Seq("id"))
    assert(diffed.columns.toSeq == Seq("Operation", "id", "user.name"))
    assert(diffed.select("Operation").as[String].collect().toSeq == Seq("Update"))

    val json = ChangeFeed.toJsonPayload(diffed).as[String].head()
    assert(json == """{"Operation":"Update","Item":{"id":1,"user.name":"b"}}""")
  }

  test("fitsOneTask agrees with the optimized plan's estimate on the " +
    "delivery fixtures, at the default, a tiny and a disabled threshold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cf").toString + "/table"
    def rows(rs: (Long, Long, String, String)*) =
      rs.toDF("id", "version", "name", "secret").coalesce(1)
    graft.storage.SnapshotStore.commit(spark, dir,
      rows((1L, 1L, "v1", "x"), (2L, 1L, "w1", "x")), "ingest")
    graft.storage.SnapshotStore.commitAppend(spark, dir, rows((1L, 2L, "v2", "x")), "append")
    // each fixture is built afresh per check, so no frame is optimized
    // before fitsOneTask reads it
    val fixtures: Seq[(String, () => DataFrame)] = Seq(
      "local rows" -> (() => rows((1L, 1L, "v1", "x"), (2L, 1L, "w1", "x"))),
      "feed range" -> (() => graft.storage.SnapshotStore.readChangesSince(spark, dir, 0L, 2L)),
      "deduped feed" -> (() => ChangeFeed.dedupLatest(
        graft.storage.SnapshotStore.readChangesSince(spark, dir, 0L, 2L)
          .select("id", "version", "name"), Seq("id"), "version")),
      "rdd rows" -> (() => spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
        org.apache.spark.sql.types.StructType.fromDDL("id bigint"))))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    try Seq(None, Some("1"), Some("-1")).foreach { setting =>
      setting.fold(saved.fold(spark.conf.unset(key))(spark.conf.set(key, _)))(
        spark.conf.set(key, _))
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      fixtures.foreach { case (name, df) =>
        val optimized = threshold >= 0 &&
          df().queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
        assert(ChangeFeed.fitsOneTask(df()) == optimized, s"$name at $setting")
      }
      if (setting.isEmpty)
        assert(fixtures.take(3).forall(f => ChangeFeed.fitsOneTask(f._2())),
          "the small fixtures fit one task at the default threshold")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("diff then apply round-trips: old + diff = new") {
    import spark.implicits._
    val oldSnap = Seq((1, 10), (2, 20), (3, 30)).toDF("id", "v")
    val newSnap = Seq((2, 25), (3, 30), (5, 50)).toDF("id", "v")
    val changes = ChangeFeed.diff(oldSnap, newSnap, Seq("id"))
    // apply: delete removed keys, upsert inserts+updates
    val deletes = changes.filter($"Operation" === "Delete").select("id")
    val upserts = changes.filter($"Operation" =!= "Delete").select("id", "v")
    val applied = oldSnap.join(deletes, Seq("id"), "left_anti")
      .join(upserts.select($"id"), Seq("id"), "left_anti")
      .union(upserts)
    assert(applied.orderBy("id").collect().toSeq ==
      newSnap.orderBy("id").collect().toSeq)
  }
}
