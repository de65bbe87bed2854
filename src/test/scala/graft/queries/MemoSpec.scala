package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.graft.BlockProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The memo registry's release rule and ledger over a synthetic registry,
  * and the static consistency of the engine's own declarations. */
class MemoSpec extends SparkSpec {

  /** Three tiny memos: `a` is checkpointed and read by `b`'s build, `b` is
    * a plain persisted frame, `c` a plain in-memory value. */
  private final class Fixture {
    val memos = new Memo.Registry
    val a = memos("a", "q1", "b") { (s, _) => s.range(0, 64, 1, 2).toDF("x").localCheckpoint(true) }
    val b = memos("b", "q2", "q3") { (s, d) => a(s, d).selectExpr("x * 2 AS y").persist() }
    val c = memos("c", "q3", "q4") { (_, _) => Seq(1L, 2L, 3L) }
    val run: Map[String, () => Unit] = Map(
      "q1" -> (() => a(spark, "sf").count()),
      "q2" -> (() => b(spark, "sf").count()),
      "q3" -> (() => { b(spark, "sf").count(); c(spark, "sf").sum }),
      "q4" -> (() => c(spark, "sf").sum))
    def held: Map[String, Boolean] = memos.all.map(m => m.name -> m.held).toMap
  }

  private val orders = Seq(
    "forward" -> Seq("q1", "q2", "q3", "q4"),
    "reverse" -> Seq("q4", "q3", "q2", "q1"),
    "shuffled" -> new scala.util.Random(987654321L).shuffle(Seq("q1", "q2", "q3", "q4")))

  test("effective consumers include the consumers of every memo that reads it") {
    val f = new Fixture
    assert(f.memos.effectiveConsumers("a") == Set("q1", "q2", "q3"))
    assert(f.memos.effectiveConsumers("b") == Set("q2", "q3"))
    assert(f.memos.effectiveConsumers("c") == Set("q3", "q4"))
  }

  orders.foreach { case (label, order) =>
    test(s"$label order: each memo is built once and released right after its last consumer") {
      val f = new Fixture
      f.memos.drainBuilds()
      (1 to 2).foreach { pass =>
        order.indices.foreach { i =>
          val done = order.take(i + 1).toSet
          f.run(order(i))()
          f.memos.releaseAfter(order(i))
          f.memos.all.foreach { m =>
            val waits = f.memos.effectiveConsumers(m.name)
            val expected = waits.exists(done) && !waits.subsetOf(done)
            assert(m.held == expected,
              s"pass $pass: memo ${m.name} held=${m.held} after ${order(i)} (order $order)")
          }
        }
        assert(f.memos.drainBuilds().map(_._1).sorted == Seq("a", "b", "c"),
          s"pass $pass builds each memo exactly once")
        assert(!f.held.values.exists(identity))
      }
    }
  }

  test("a checkpointed memo's RDD blocks are gone after release") {
    val f = new Fixture
    val rddId = f.a(spark, "sf").queryExecution.logical match {
      case l: LogicalRDD => l.rdd.id
      case other => fail(s"not checkpointed: $other")
    }
    assert(BlockProbe.rddBlocks(rddId) > 0)
    Seq("q1", "q2", "q3").foreach(f.memos.releaseAfter)
    assert(!f.held("a"))
    val deadline = System.nanoTime() + 10000000000L
    while (BlockProbe.rddBlocks(rddId) > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(BlockProbe.rddBlocks(rddId) == 0)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }

  test("release-all drops every memo, plain values too, and resets the consumer sets") {
    val f = new Fixture
    f.run("q3")()
    f.memos.releaseAfter("q3")
    assert(f.held == Map("a" -> true, "b" -> true, "c" -> true))
    val persisted: DataFrame = f.b(spark, "sf")
    f.memos.releaseAll()
    assert(f.held.values.forall(!_))
    assert(persisted.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    // q3's completion was forgotten: c now waits for q3 and q4 again
    f.run("q4")()
    f.memos.releaseAfter("q4")
    assert(f.held("c"))
    f.memos.releaseAll()
  }

  test("every declared consumer is a query or a memo, and every memo has one") {
    val registry = ExtQueries.memos
    val memoNames = registry.all.map(_.name).toSet
    val queryNames = SparkEntry.queries.keySet
    registry.all.foreach { m =>
      assert(m.consumers.nonEmpty, s"memo ${m.name} has no consumer")
      val unknown = m.consumers.filterNot(c => queryNames(c) || memoNames(c))
      assert(unknown.isEmpty, s"memo ${m.name} declares unknown consumers $unknown")
      assert(registry.effectiveConsumers(m.name).forall(queryNames))
    }
  }
}
