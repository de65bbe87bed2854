package graft.state

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class KVStoreSpec extends SparkSpec {

  private def tmp = Files.createTempDirectory("kvstore").toString
  private def ts(ms: Long) = new Timestamp(ms)

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

  test("job budget: a repeated get at one version runs no stage; a point save none") {
    val dir = tmp
    new KVStore(spark, dir).save("k", "v1", ts(1))
    val kv = new KVStore(spark, dir)
    assert(kv.get("k").contains("v1")) // a miss: reads the snapshot
    val reread = counted(assert(kv.get("k").contains("v1")))
    assert(reread("stagesCompleted") == 0, s"repeated get ran stages: $reread")
    val saved = counted(kv.save("k", "v2", ts(2)))
    assert(saved("stagesCompleted") == 0, s"save: $saved")
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

  private def overridesIn(dir: String) =
    Files.exists(Paths.get(dir, s"v_${pointer(dir)}", KVStore.OverridesFile))

  private def rowsOf(kv: KVStore) =
    kv.all().collect().map(r => (r.getString(0), r.getString(1), r.getTimestamp(2))).toSet

  test("override rows round-trip exactly: control characters, unicode, " +
    "empty and null values, microsecond timestamps") {
    val dir = tmp
    val kv = new KVStore(spark, dir)
    kv.save("base", "b", ts(1))
    val micros = new Timestamp(1700000000123L)
    micros.setNanos(123456000)
    val early = new Timestamp(-86400000L * 365 * 30 + 7)
    early.setNanos(7654000)
    val saved = Seq(
      ("tab\tkey", "a\tb", ts(2)),
      ("new\nline", "x\ny\r\n", micros),
      ("ünï\u2603 \uD83D\uDE00", "\u00e9\u4e2d\"quote\\", early),
      ("", "", ts(3)),
      ("nullvalue", null, ts(4)),
      ("nulltime", "v", null))
    saved.foreach { case (k, v, at) => kv.save(k, v, at) }
    assert(overridesIn(dir), "point saves over a base snapshot go to the sidecar")
    val fresh = new KVStore(spark, dir)
    saved.foreach { case (k, v, _) => assert(fresh.get(k) == Some(v), k) }
    val expected = saved.toSet + (("base", "b", ts(1)))
    assert(rowsOf(fresh) == expected)
    assert(rowsOf(kv) == expected)
  }

  test("the fold at the override cap is one narrow stage and leaves all() unchanged") {
    val dir = tmp
    val kv = new KVStore(spark, dir)
    kv.save("k0", "v0", ts(0))
    (1 until KVStore.OverrideCap).foreach(i => kv.save(s"k$i", s"v$i", ts(i.toLong)))
    assert(overridesIn(dir))
    val before = rowsOf(kv)
    val files = Paths.get(dir, s"v_${pointer(dir)}").toFile.list().count(_.endsWith(".parquet"))
    val i = KVStore.OverrideCap
    assert(kv.get(s"k$i").isEmpty) // the winner lookup's read, outside the count
    val c = counted(kv.save(s"k$i", s"v$i", ts(i.toLong)))
    assert(c("stagesCompleted") == 1, s"fold: $c")
    assert(c("shuffleBytesWritten") == 0, s"fold shuffled: $c")
    assert(!overridesIn(dir), "the fold writes the overrides into the data files")
    assert(Paths.get(dir, s"v_${pointer(dir)}").toFile.list().count(_.endsWith(".parquet")) == files)
    assert(rowsOf(kv) == before + ((s"k$i", s"v$i", ts(i.toLong))))
    assert(rowsOf(new KVStore(spark, dir)) == rowsOf(kv))
    assert(kv.get("k1").contains("v1") && kv.get(s"k$i").contains(s"v$i"))
  }

  test("a lazy all() handle survives a fold plus pruning") {
    val dir = tmp
    val kv = new KVStore(spark, dir, keepSnapshots = 2)
    kv.save("k0", "v0", ts(0))
    (1 until KVStore.OverrideCap).foreach(i => kv.save(s"k$i", s"v$i", ts(i.toLong)))
    val handle = kv.all() // data files linked from v_0 plus the overrides
    val expected = rowsOf(kv)
    kv.save("k0", "folded", ts(100)) // the fold; prunes every version but the last two
    assert(!Files.exists(Paths.get(dir, "v_0")), "the directory that first held the data is pruned")
    assert(handle.collect().map(r => (r.getString(0), r.getString(1), r.getTimestamp(2)))
      .toSet == expected)
    assert(kv.get("k0").contains("folded"))
  }

  test("a crash leftover snapshot of links is removed by cleanStorage and " +
    "replaced by the next save") {
    val dir = tmp
    val root = Paths.get(dir)
    val kv = new KVStore(spark, dir)
    kv.save("a", "1", ts(1))
    kv.save("b", "2", ts(2))
    def leftover(): Unit = {
      val live = pointer(dir).toInt
      val next = root.resolve(s"v_${live + 1}")
      Files.createDirectories(next)
      // the sidecar is written fresh, never through a link to the live one
      root.resolve(s"v_$live").toFile.listFiles()
        .filter(f => f.isFile && f.getName != KVStore.OverridesFile).foreach { f =>
        Files.createLink(next.resolve(f.getName), f.toPath)
      }
      Files.writeString(next.resolve(KVStore.OverridesFile),
        """[{"key":"ghost","value":"boo","updated_at":5}]""")
    }
    leftover()
    val (_, orphans) = kv.cleanStorage(removeEmptyEntities = false)
    assert(orphans == 1 && !Files.exists(root.resolve(s"v_${pointer(dir).toInt + 1}")))
    leftover()
    kv.save("c", "3", ts(3))
    assert(overridesIn(dir))
    val fresh = new KVStore(spark, dir)
    assert(fresh.get("ghost").isEmpty && fresh.get("c").contains("3"))
    assert(rowsOf(fresh).map(_._1) == Set("a", "b", "c"))
  }

  test("a store written with data files only takes override saves") {
    import spark.implicits._
    val dir = tmp
    spark.sparkContext.parallelize(Seq(("k", "v", ts(7)), ("j", "w", ts(7))), 2)
      .toDF("key", "value", "updated_at").write.parquet(Paths.get(dir, "v_4").toString)
    Files.writeString(Paths.get(dir, "_CURRENT"), "4")
    val kv = new KVStore(spark, dir)
    assert(kv.get("k").contains("v"))
    val c = counted(kv.save("k", "x", ts(8)))
    assert(c("stagesCompleted") == 0, s"save: $c")
    assert(pointer(dir) == "5" && overridesIn(dir))
    assert(Paths.get(dir, "v_5").toFile.list().count(_.endsWith(".parquet")) == 2)
    assert(rowsOf(new KVStore(spark, dir)) == Set(("k", "x", ts(8)), ("j", "w", ts(7))))
  }

  test("a filesystem that refuses hard links takes the Spark write") {
    val dir = tmp
    val kv = new KVStore(spark, dir) {
      override protected[state] def link(newFile: java.nio.file.Path,
                                         existing: java.nio.file.Path): Unit =
        throw new UnsupportedOperationException("no links here")
    }
    kv.save("a", "1", ts(1))
    assert(kv.get("b").isEmpty)
    val c = counted(kv.save("b", "2", ts(2)))
    assert(c("stagesCompleted") == 1 && c("shuffleBytesWritten") == 0, s"save: $c")
    assert(pointer(dir) == "1" && !overridesIn(dir))
    assert(rowsOf(new KVStore(spark, dir)).map(r => (r._1, r._2)) == Set("a" -> "1", "b" -> "2"))
  }

  test("saveAll, delete and cleanStorage fold the overrides") {
    import spark.implicits._
    val dir = tmp
    val kv = new KVStore(spark, dir)
    kv.save("a", "1", ts(1)); kv.save("b", "2", ts(2))
    assert(overridesIn(dir))
    kv.saveAll(Seq(("c", "3", ts(3))).toDF("key", "value", "updated_at"))
    assert(!overridesIn(dir) && rowsOf(kv).size == 3)
    kv.save("d", "4", ts(4))
    kv.delete("a")
    assert(!overridesIn(dir) && rowsOf(kv).map(_._1) == Set("b", "c", "d"))
    kv.save("e", "5", ts(5))
    assert(kv.cleanStorage() == ((0L, 0L)))
    assert(!overridesIn(dir) && rowsOf(kv).map(_._1) == Set("b", "c", "d", "e"))
  }
}
