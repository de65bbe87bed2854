package graft.state

import graft.SparkSpec
import graft.observability.Observability
import org.apache.spark.graft.ListenerBusBridge
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class KVStoreSpec extends SparkSpec {

  private def tmp = Files.createTempDirectory("kvstore").toString
  private def ts(ms: Long) = new Timestamp(ms)

  /** Engine counter deltas over `body`, with the listener bus drained on
    * both sides (the MetricsAssertionsSpec recipe). */
  private def counted(body: => Unit): Map[String, Long] = {
    val l = Observability.attach(spark)
    try {
      ListenerBusBridge.drain(spark.sparkContext)
      val before = l.snapshot
      body
      ListenerBusBridge.drain(spark.sparkContext)
      l.snapshot.map { case (k, v) => k -> (v - before(k)) }
    } finally Observability.detach(spark, l)
  }

  private def pointer(dir: String) = Files.readString(Paths.get(dir, "_CURRENT")).trim

  test("save/get: last write wins, updated_at stamped") {
    val kv = new KVStore(spark, tmp)
    assert(kv.get("t1").isEmpty)
    kv.save("t1", "Id,Name", ts(1000))
    assert(kv.get("t1").contains("Id,Name"))
    kv.save("t1", "Id,Name,LastUpdate", ts(2000))
    assert(kv.get("t1").contains("Id,Name,LastUpdate"))
    assert(kv.all().count() == 1)
  }

  test("incoming wins on exact timestamp tie (overwrite semantics)") {
    val kv = new KVStore(spark, tmp)
    kv.save("k", "old", ts(5000))
    kv.save("k", "new", ts(5000))
    assert(kv.get("k").contains("new"))
  }

  test("independent keys coexist; delete removes one") {
    val kv = new KVStore(spark, tmp)
    kv.save("a", "1", ts(1)); kv.save("b", "2", ts(2))
    assert(kv.all().count() == 2)
    kv.delete("a")
    assert(kv.get("a").isEmpty && kv.get("b").contains("2"))
  }

  test("snapshots are compacted to the retained window (bounded history)") {
    val dir = tmp
    val kv = new KVStore(spark, dir, keepSnapshots = 2)
    (1 to 5).foreach(i => kv.save("k", s"v$i", ts(i.toLong)))
    val versions = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("/v_")).sorted
    assert(versions.length == 2, s"expected 2 snapshot dirs, got ${versions.toSeq}")
    assert(kv.get("k").contains("v5"))
  }

  test("lazy handle from all() survives a subsequent save (snapshot retention)") {
    val kv = new KVStore(spark, tmp) // default retention of 3
    kv.save("k", "v1", ts(1))
    val before = kv.all() // lazy: reads v_0 when evaluated
    kv.save("k", "v2", ts(2)) // writes v_1; v_0 must still exist
    assert(before.filter(before("key") === "k").count() == 1)
    assert(kv.get("k").contains("v2"))
  }

  test("concurrent saves of different keys both survive (no lost update)") {
    val kv = new KVStore(spark, tmp)
    val threads = (1 to 4).map { i =>
      new Thread(() => kv.save(s"k$i", s"v$i", ts(i.toLong)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(kv.all().count() == 4)
    (1 to 4).foreach(i => assert(kv.get(s"k$i").contains(s"v$i")))
  }

  test("cleanStorage: empty entities removed, crash leftovers deleted") {
    val dir = tmp
    val kv = new KVStore(spark, dir)
    kv.save("live", "data", ts(1))
    kv.save("empty", "", ts(2))
    kv.save("blank", "   ", ts(3))
    // simulate a writer that died mid-swap: stray tmp pointer + future snapshot
    val root = java.nio.file.Paths.get(dir)
    Files.writeString(root.resolve("_CURRENT.tmp99"), "99")
    Files.createDirectories(root.resolve("v_99"))
    val (empties, orphans) = kv.cleanStorage()
    assert(empties == 2, s"expected 2 empty entities, got $empties")
    assert(orphans == 2, s"expected 2 orphans, got $orphans")
    assert(kv.get("live").contains("data"))
    assert(kv.get("empty").isEmpty && kv.get("blank").isEmpty)
    assert(!Files.exists(root.resolve("_CURRENT.tmp99")))
    assert(!Files.exists(root.resolve("v_99")))
  }

  test("LeaseStore: attempt counts and the 5->4 re-arm nudge") {
    val lease = new LeaseStore(spark, tmp)
    assert(lease.attemptCount("t").isEmpty)
    assert(!lease.nudgeIfExhausted("t"))
    lease.setAttemptCount("t", 3, ts(1))
    assert(!lease.nudgeIfExhausted("t"))
    assert(lease.attemptCount("t").contains(3))
    lease.setAttemptCount("t", 5, ts(2))
    assert(lease.nudgeIfExhausted("t", ts(3)))
    assert(lease.attemptCount("t").contains(4))
  }

  test("job budget: a repeated get at one version runs no stage; a save one narrow stage") {
    val dir = tmp
    new KVStore(spark, dir).save("k", "v1", ts(1))
    val kv = new KVStore(spark, dir)
    assert(kv.get("k").contains("v1")) // a miss: reads the snapshot
    val reread = counted(assert(kv.get("k").contains("v1")))
    assert(reread("stagesCompleted") == 0, s"repeated get ran stages: $reread")
    val saved = counted(kv.save("k", "v2", ts(2)))
    assert(saved("stagesCompleted") == 1, s"save: $saved")
    assert(saved("shuffleBytesWritten") == 0, s"save shuffled: $saved")
    val after = counted(assert(kv.get("k").contains("v2")))
    assert(after("stagesCompleted") == 0, s"get after own save ran stages: $after")
    assert(new KVStore(spark, dir).get("k").contains("v2"))
    (3 to 6).foreach(i => kv.save("k", s"v$i", ts(i.toLong)))
    val live = Paths.get(dir, s"v_${pointer(dir)}").toFile.list().count(_.endsWith(".parquet"))
    assert(live == 1, s"point saves grew the snapshot to $live files")
  }

  test("coherence: a save through one instance is seen by another's next get") {
    val dir = tmp
    val a = new KVStore(spark, dir)
    val b = new KVStore(spark, dir)
    a.save("k", "v1", ts(1))
    assert(b.get("k").contains("v1") && b.get("missing").isEmpty)
    a.save("k", "v2", ts(2))
    a.save("missing", "now", ts(2))
    assert(b.get("k").contains("v2") && b.get("missing").contains("now"))
  }

  test("a save older than the stored row leaves the stored value") {
    val dir = tmp
    val kv = new KVStore(spark, dir)
    kv.save("k", "new", ts(5000))
    kv.save("k", "stale", ts(4000))
    assert(kv.get("k").contains("new"))
    assert(new KVStore(spark, dir).get("k").contains("new"))
    val row = kv.all().collect().head
    assert(row.getTimestamp(2) == ts(5000))
  }

  test("get reflects saveAll, delete and cleanStorage") {
    import spark.implicits._
    val kv = new KVStore(spark, tmp)
    kv.save("a", "1", ts(1)); kv.save("b", "2", ts(1)); kv.save("c", "3", ts(1))
    assert(kv.get("a").contains("1") && kv.get("b").contains("2") && kv.get("d").isEmpty)
    kv.saveAll(Seq(("a", "10", ts(2)), ("d", "4", ts(2)))
      .toDF("key", "value", "updated_at"))
    assert(kv.get("a").contains("10") && kv.get("d").contains("4"))
    kv.delete("b")
    assert(kv.get("b").isEmpty)
    kv.save("c", " ", ts(3))
    assert(kv.get("c").contains(" "))
    kv.cleanStorage()
    assert(kv.get("c").isEmpty && kv.get("a").contains("10"))
  }

  test("mixed point saves and saveAll leave one row per key") {
    import spark.implicits._
    val kv = new KVStore(spark, tmp)
    kv.save("a", "1", ts(1)); kv.save("b", "1", ts(1))
    kv.saveAll(Seq(("b", "2", ts(2)), ("c", "2", ts(2)), ("c", "3", ts(3)))
      .toDF("key", "value", "updated_at"))
    kv.save("a", "4", ts(4)); kv.save("c", "0", ts(0)); kv.save("d", "4", ts(4))
    val rows = kv.all().collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.sorted.toSeq == Seq("a" -> "4", "b" -> "2", "c" -> "3", "d" -> "4"))
  }

  test("reads a store written as plain parquet snapshots with a pointer") {
    import spark.implicits._
    val dir = tmp
    Seq(("k", "v", ts(7))).toDF("key", "value", "updated_at")
      .write.parquet(Paths.get(dir, "v_4").toString)
    Files.writeString(Paths.get(dir, "_CURRENT"), "4")
    val kv = new KVStore(spark, dir)
    assert(kv.get("k").contains("v"))
    assert(kv.all().collect().map(r => (r.getString(0), r.getString(1), r.getTimestamp(2)))
      .toSeq == Seq(("k", "v", ts(7))))
    kv.save("k", "w", ts(8))
    assert(pointer(dir) == "5" && new KVStore(spark, dir).get("k").contains("w"))
  }
}
