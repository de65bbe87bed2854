package graft.pipeline

import graft.SparkSpec
import graft.operators.{AllowlistProjection, ChangeFeed}
import graft.sinks.{DataSyncAction, HttpPostAction, SinkOutcome}
import graft.state.{KVStore, LeaseStore}
import graft.storage.SnapshotStore
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

class DeliveryPipelineSpec extends SparkSpec {

  private def ts(n: Long) = new Timestamp(n)

  private class ScriptedSink(outcomes: SinkOutcome*) extends DataSyncAction {
    var received = List.empty[(Seq[String], Long)]
    private var i = -1
    override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome = {
      i += 1
      received :+= (changes.columns.toSeq, changes.count())
      outcomes(math.min(i, outcomes.length - 1))
    }
  }

  private def pipeline(sink: DataSyncAction,
                       dir: String = Files.createTempDirectory("dp").toString,
                       sinkParams: Map[String, String] = Map("baseUrl" -> "http://x")) = {
    val client = new KVStore(spark, s"$dir/allowed")
    client.save("demo", "id,version,name", ts(1))
    val err = new KVStore(spark, s"$dir/err")
    val lease = new LeaseStore(spark, s"$dir/lease")
    (new DeliveryPipeline("demo", Seq("id"), "version",
      allowlistConfig = Some("ID"), clientAllowlist = client,
      lastError = err, lease = lease, sink = sink,
      sinkParams = sinkParams), err, lease, client)
  }

  private def changes = {
    import spark.implicits._
    Seq((1L, 1L, "v1", "x"), (1L, 2L, "v2", "x"), (2L, 1L, "w1", "x"))
      .toDF("id", "version", "name", "secret")
  }

  test("success: dedup + union-allowlist projection reach the sink; lease cleared") {
    val sink = new ScriptedSink(SinkOutcome(success = true, 200, retryable = false, ""))
    val (p, err, lease, _) = pipeline(sink)
    assert(p.deliver(changes, ts(10)) == p.Delivered)
    val (cols, rows) = sink.received.head
    assert(cols == Seq("id", "version", "name"), "config ∪ client allowlist, secret dropped")
    assert(rows == 2, "dedup-to-latest: one row per key")
    assert(lease.attemptCount("demo").contains(0))
    assert(err.get("demo").isEmpty)
  }

  test("retryable failure: LastError written, attempts++, RetryScheduled") {
    val sink = new ScriptedSink(SinkOutcome(success = false, 503, retryable = true, "boom"))
    val (p, err, lease, _) = pipeline(sink)
    val d = p.deliver(changes, ts(10))
    assert(d.isInstanceOf[p.RetryScheduled])
    assert(lease.attemptCount("demo").contains(1))
    assert(err.get("demo").exists(_.startsWith("status=503")))
    // second failed delivery increments again (redelivery semantics)
    p.deliver(changes, ts(20))
    assert(lease.attemptCount("demo").contains(2))
  }

  test("non-retryable failure: retry=false marker, NotifyRequired") {
    val sink = new ScriptedSink(SinkOutcome(success = false, 404, retryable = false, "nope"))
    val (p, err, _, _) = pipeline(sink)
    val d = p.deliver(changes, ts(10))
    assert(d.isInstanceOf[p.NotifyRequired])
    assert(err.get("demo").exists(_.startsWith("retry=false")))
  }

  test("client allowlist changes take effect on the NEXT batch (re-read per delivery)") {
    val sink = new ScriptedSink(SinkOutcome(success = true, 200, retryable = false, ""))
    val (p, _, _, client) = pipeline(sink)
    p.deliver(changes, ts(10))
    assert(sink.received.head._1 == Seq("id", "version", "name"))
    // shrink the client allowlist; config still contributes ID
    client.save("demo", "version", ts(15))
    p.deliver(changes, ts(20))
    assert(sink.received(1)._1 == Seq("id", "version"),
      "next batch re-resolves the allowlist (never cached)")
  }

  test("a success leaves a lease already at 0 unwritten; after a failure it writes 0") {
    val ok = SinkOutcome(success = true, 200, retryable = false, "")
    val sink = new ScriptedSink(ok, ok, SinkOutcome(success = false, 503, retryable = true, "boom"), ok)
    val dir = Files.createTempDirectory("dp").toString
    val (p, _, lease, _) = pipeline(sink, dir)
    def leaseVersion = Files.readString(Paths.get(dir, "lease", "_CURRENT")).trim
    assert(p.deliver(changes, ts(10)) == p.Delivered)
    val first = leaseVersion
    assert(lease.attemptCount("demo").contains(0))
    assert(p.deliver(changes, ts(20)) == p.Delivered)
    assert(leaseVersion == first, "second success rewrote a lease already at 0")
    p.deliver(changes, ts(30))
    assert(lease.attemptCount("demo").contains(1))
    assert(p.deliver(changes, ts(40)) == p.Delivered)
    assert(lease.attemptCount("demo").contains(0))
    assert(leaseVersion.toInt > first.toInt + 1, "the failure and the next success both write")
  }

  test("a warmed failed delivery writes LastError and the lease with no Spark " +
    "stage, and so does the next success's lease reset") {
    val ok = SinkOutcome(success = true, 200, retryable = false, "")
    val fail = SinkOutcome(success = false, 503, retryable = true, "boom")
    val script = Iterator(ok, fail, fail, ok)
    // answers without evaluating the batch, so only the state writes can run stages
    val sink = new DataSyncAction {
      override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome =
        script.next()
    }
    val (p, err, lease, _) = pipeline(sink)
    // warm: the first success creates the lease store, the first failure the LastError store
    assert(p.deliver(changes, ts(10)) == p.Delivered)
    assert(p.deliver(changes, ts(20)).isInstanceOf[p.RetryScheduled])
    val failed = counted(assert(p.deliver(changes, ts(30)).isInstanceOf[p.RetryScheduled]))
    assert(failed("stagesCompleted") == 0L, s"LastError and lease writes ran stages: $failed")
    assert(err.get("demo").exists(_.startsWith("status=503")))
    assert(lease.attemptCount("demo").contains(2))
    val reset = counted(assert(p.deliver(changes, ts(40)) == p.Delivered))
    assert(reset("stagesCompleted") == 0L, s"the lease reset ran stages: $reset")
    assert(lease.attemptCount("demo").contains(0))
  }

  /** A live endpoint on a local socket answering 200. Each POST is recorded
    * with the number of persisted RDDs at the moment it arrived: the sink
    * posts after its probe, so a cached payload is counted there. */
  private def withEndpoint(body: (String, ConcurrentLinkedQueue[(String, Int)]) => Unit): Unit = {
    val posts = new ConcurrentLinkedQueue[(String, Int)]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/post", exchange => {
      posts.add((new String(exchange.getRequestBody.readAllBytes(), "UTF-8"),
        spark.sparkContext.getPersistentRDDs.size))
      exchange.sendResponseHeaders(200, 2)
      exchange.getResponseBody.write("ok".getBytes)
      exchange.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", posts)
    finally server.stop(0)
  }

  /** The change feed's batch over a two-commit snapshot table: one file per
    * commit, and key 1 superseded by the second. */
  private def twoFileBatch(dir: String): DataFrame = {
    import spark.implicits._
    val table = s"$dir/table"
    def rows(rs: (Long, Long, String, String)*) =
      rs.toDF("id", "version", "name", "secret").coalesce(1)
    SnapshotStore.commit(spark, table, rows((1L, 1L, "v1", "x"), (2L, 1L, "w1", "x")), "ingest")
    SnapshotStore.commitAppend(spark, table, rows((1L, 2L, "v2", "x")), "append")
    assert(SnapshotStore.changedFiles(spark, table, 0L, 2L).length == 2)
    SnapshotStore.readChangesSince(spark, table, 0L, 2L)
  }

  private def docs(body: String): Set[String] =
    body.stripPrefix("[").stripSuffix("]").split("(?<=\\}\\}),").toSet

  private val expectedDocs = Set(
    """{"Operation":"Upsert","Item":{"id":1,"version":2,"name":"v2"}}""",
    """{"Operation":"Upsert","Item":{"id":2,"version":1,"name":"w1"}}""")

  test("a warmed delivery of a small multi-file batch is one stage with no shuffle") {
    withEndpoint { (url, posts) =>
      val dir = Files.createTempDirectory("dp").toString
      val batch = twoFileBatch(dir)
      val (p, _, _, _) = pipeline(new HttpPostAction(), dir,
        Map("baseUrl" -> url, "route" -> "/post", "timeoutMs" -> "10000"))
      // warm: the allowlist and lease reads are memoized, the lease set to 0
      assert(p.deliver(batch, ts(10)) == p.Delivered)
      val c = counted(assert(p.deliver(batch, ts(20)) == p.Delivered))
      assert(c("stagesCompleted") == 1L,
        s"scan, dedup, allowlist and JSON must run as one stage: $c")
      assert(c("shuffleBytesWritten") == 0L, s"a batch that fits one task shuffles nothing: $c")
      assert(posts.size == 2)
      posts.forEach { case (body, _) => assert(docs(body) == expectedDocs, body) }
    }
  }

  test("sizing a small batch for one task runs no optimizer pass over the " +
    "feed frame or the sink's input") {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker
    class FrameRecordingSink(inner: DataSyncAction) extends DataSyncAction {
      var frames = List.empty[DataFrame]
      override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome = {
        frames :+= changes
        inner.executeAction(changes, params)
      }
    }
    withEndpoint { (url, posts) =>
      val dir = Files.createTempDirectory("dp").toString
      val batch = twoFileBatch(dir)
      val sink = new FrameRecordingSink(new HttpPostAction())
      val (p, _, _, _) = pipeline(sink, dir,
        Map("baseUrl" -> url, "route" -> "/post", "timeoutMs" -> "10000"))
      assert(p.deliver(batch, ts(10)) == p.Delivered)
      assert(posts.size == 1 && docs(posts.peek()._1) == expectedDocs)
      (batch +: sink.frames).foreach { df =>
        val phases = df.queryExecution.tracker.phases
        assert(!phases.contains(QueryPlanningTracker.OPTIMIZATION), phases.keys)
      }
    }
  }

  test("above the broadcast threshold the dedup keeps its exchange and the " +
    "sink caches; the POSTed rows are those of the one-task path") {
    class PlanRecordingSink(inner: DataSyncAction) extends DataSyncAction {
      var plans = List.empty[String]
      override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome = {
        plans :+= changes.queryExecution.executedPlan.toString
        inner.executeAction(changes, params)
      }
    }
    withEndpoint { (url, posts) =>
      val dir = Files.createTempDirectory("dp").toString
      val batch = twoFileBatch(dir)
      val sink = new PlanRecordingSink(new HttpPostAction())
      val (p, _, _, _) = pipeline(sink, dir,
        Map("baseUrl" -> url, "route" -> "/post", "timeoutMs" -> "10000"))
      val persisted0 = spark.sparkContext.getPersistentRDDs.size
      assert(p.deliver(batch, ts(10)) == p.Delivered)
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try assert(p.deliver(batch, ts(20)) == p.Delivered)
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val Seq(oneTask, above) = sink.plans
      assert(!oneTask.contains("Exchange"), oneTask)
      assert(above.contains("Exchange"), above)
      val Seq((oneTaskBody, oneTaskCached), (aboveBody, aboveCached)) =
        posts.toArray(Array.empty[(String, Int)]).toSeq
      assert(oneTaskCached == persisted0, "a batch that fits one task is not cached")
      assert(aboveCached > persisted0, "above the threshold the payload is cached")
      assert(docs(oneTaskBody) == expectedDocs && docs(aboveBody) == expectedDocs)
      assert(spark.sparkContext.getPersistentRDDs.size == persisted0,
        "the cached payload is released after the POST")
    }
  }

  test("the delivery scan reads only allowlist ∪ pk ∪ version, and the payload " +
    "equals the dedup-then-allowlist composition") {
    class CapturingSink extends DataSyncAction {
      var got = List.empty[(Seq[String], Seq[Row], String)]
      override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome = {
        val plan = changes.queryExecution.executedPlan.toString
        got :+= ((changes.columns.toSeq, changes.collect().toSeq, plan))
        SinkOutcome(success = true, 200, retryable = false, "")
      }
    }
    val dir = Files.createTempDirectory("dp").toString
    // id, version, name, secret; key 1 superseded by the second commit
    val batch = twoFileBatch(dir)
    val pk = Seq("id")
    // (config, client allowlist)
    val cases = Seq(
      (Some("name"), None),                    // omits pk and version
      (Some("NaMe"), Some("VERSION")),         // mixed case
      (Some("ID"), Some("id,version,name")),
      (None, None))                            // no allowlist: all columns
    cases.zipWithIndex.foreach { case ((config, clientList), i) =>
      val client = new KVStore(spark, s"$dir/allowed$i")
      clientList.foreach(client.save("demo", _, ts(1)))
      val sink = new CapturingSink
      val p = new DeliveryPipeline("demo", pk, "version", config, client,
        new KVStore(spark, s"$dir/err$i"), new LeaseStore(spark, s"$dir/lease$i"),
        sink, Map.empty)
      assert(p.deliver(batch, ts(10)) == p.Delivered)
      val Seq((cols, rows, plan)) = sink.got
      val old = AllowlistProjection(ChangeFeed.dedupLatest(batch, pk, "version"),
        config, clientList)
      assert(cols == old.columns.toSeq, s"case $i")
      assert(rows.sortBy(_.toString) == old.collect().toSeq.sortBy(_.toString), s"case $i")
      val read = AllowlistProjection.unionAllowlists(config, clientList)
        .map(a => (a ++ pk :+ "version").map(_.toLowerCase).toSet)
      val expected = StructType(batch.schema.filter(f =>
        read.forall(_.contains(f.name.toLowerCase)))).catalogString
      val readSchemas = "ReadSchema: (struct<[^>]*>)".r.findAllMatchIn(plan).map(_.group(1)).toSet
      assert(readSchemas == Set(expected), s"case $i: $plan")
    }
  }
}
