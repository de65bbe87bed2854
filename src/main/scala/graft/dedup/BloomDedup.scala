package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Incremental corpus deduplication with a Bloom-filter prefilter — the
  * 100 TB shape for "is this new document already in the corpus": the
  * existing corpus aggregates ONCE into a compact bit array (a custom
  * typed `Aggregator`, the engine's real UDAF surface), and each new batch
  * probes it with pure column expressions. Rows failing the probe are
  * DEFINITELY fresh (Bloom filters have no false negatives) and skip the
  * join entirely; only the small might-be-duplicate remainder — false
  * positives plus true duplicates — pays the exact anti-join. The final
  * result is therefore EXACTLY the plain anti-join's (oracle-checkable),
  * at a fraction of its shuffle.
  *
  * Hashing: positions come from Kirsch-Mitzenmacher double hashing over
  * two independent xxhash64 values, each folded into [0, 2^31) so
  * `g1 + i*g2` stays far from 64-bit overflow (ANSI mode would throw);
  * insert (JVM loop) and probe (column expressions) use the IDENTICAL
  * formula, which is what guarantees no false negatives.
  *
  * Scale note: the aggregated bit array returns to the driver either way;
  * how it reaches the executors is sized automatically. Up to
  * [[BloomDedup.LiteralBitCeiling]] (2^27 bits = 16 MiB) it probes as an
  * expression constant serialized into the task closure; past that the
  * probe switches to [[graft.plans.BloomMightContainBroadcast]] — the
  * array ships ONCE per executor as a broadcast variable and the
  * expression carries only the handle, which holds the 1%-FP sizing to
  * ~10^8 corpus keys (2^30 bits = 128 MiB broadcast). Beyond the driver's
  * comfort, shard the filter by key range; the aggregation shape
  * (map-side partial blooms OR-merged) is unchanged at every size.
  */
object BloomDedup {

  private val Fold = 1L << 31

  /** Largest bit array probed as an expression literal (16 MiB); larger
    * filters automatically take the broadcast-variable probe. */
  val LiteralBitCeiling: Int = 1 << 27

  /** Auto-sizing ceiling (2^30 bits = 128 MiB broadcast, ~10^8 keys at
    * 10 bits/key). */
  val MaxAutoBits: Int = 1 << 30

  /** The two folded hash columns for a key expression. */
  def hashPair(key: Column): (Column, Column) =
    (pmod(xxhash64(key), lit(Fold)), pmod(xxhash64(key, lit(1)), lit(Fold)))

  /** Typed Bloom aggregator: buffer and output are the packed bit words.
    * Commutative + associative via bitwise OR, so Spark combines partial
    * blooms map-side — the shuffle carries one array per partition. */
  final class BloomAgg(numBits: Int, numHashes: Int)
      extends Aggregator[(Long, Long), Array[Long], Array[Long]] {
    require(numBits > 0 && numHashes > 0)

    override def zero: Array[Long] = new Array[Long]((numBits + 63) / 64)

    override def reduce(b: Array[Long], in: (Long, Long)): Array[Long] = {
      val (g1, g2) = in
      var i = 0
      while (i < numHashes) {
        val pos = ((g1 + i * g2) % numBits).toInt // g < 2^31: no overflow
        b(pos >> 6) |= (1L << (pos & 63))
        i += 1
      }
      b
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }

    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Aggregate the corpus' key column into a Bloom bit array (one driver
    * row — the "index build" of the incremental-dedup pipeline). */
  def buildBloom(corpus: DataFrame, key: Column,
                 numBits: Int, numHashes: Int): Array[Long] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (g1, g2) = hashPair(key)
    corpus.select(g1.as("g1"), g2.as("g2")).as[(Long, Long)]
      .select(new BloomAgg(numBits, numHashes).toColumn)
      .collect().headOption.getOrElse(new Array[Long]((numBits + 63) / 64))
  }

  /** Bloom probe: true when every probed bit is set (i.e. the key MIGHT
    * be in the corpus; false = definitely fresh). The bit test itself is
    * the native codegen [[graft.plans.BloomMightContain]]; only the two
    * base hashes are composed Columns. */
  def mightContain(bits: Array[Long], numBits: Int, numHashes: Int)
                  (key: Column): Column = {
    val (g1, g2) = hashPair(key)
    graft.plans.BloomExpression.bloomMightContain(g1, g2, bits, numBits, numHashes)
  }

  /** Power-of-two bit count giving ~10 bits/key (≤1% FP at k=7), floored
    * at 2^16 and capped at [[MaxAutoBits]]; sizes above
    * [[LiteralBitCeiling]] are served by the broadcast probe path, so the
    * FP rate no longer silently degrades past ~10^7 corpus keys. */
  def sizeBits(corpusKeys: Long): Int = {
    val want = math.max(1L << 16, corpusKeys * 10)
    var bits = 1L << 16
    while (bits < want && bits < MaxAutoBits) bits <<= 1
    bits.toInt
  }

  /** New documents NOT already in the corpus (by exact key equality):
    * Bloom-reject rows pass through join-free; only might-contain rows pay
    * the exact `left_anti` confirm. Provably equal to the plain anti-join.
    * `numBits <= 0` (the default) auto-sizes from a corpus count — one
    * extra cheap job that keeps the FP rate ~1% at any corpus scale
    * instead of silently degrading to join-everything. */
  def freshDocs(newDocs: DataFrame, corpus: DataFrame, key: Column,
                numBits: Int = -1, numHashes: Int = 7): DataFrame = {
    val bits = if (numBits > 0) numBits else sizeBits(corpus.count())
    freshDocsSized(newDocs, corpus, key, bits, numHashes)
  }

  private def freshDocsSized(newDocs: DataFrame, corpus: DataFrame,
                             key: Column, numBits: Int, numHashes: Int): DataFrame = {
    val bloom = buildBloom(corpus, key, numBits, numHashes)
    if (numBits <= LiteralBitCeiling)
      freshByProbe(newDocs, corpus, key, mightContain(bloom, numBits, numHashes)(key))
    else {
      // large filter: ship once per executor, not once per task
      val bc = newDocs.sparkSession.sparkContext.broadcast(bloom)
      val (g1, g2) = hashPair(key)
      val hit = graft.plans.BloomExpression
        .bloomMightContainBroadcast(g1, g2, bc, numBits, numHashes)
      // a ≥16 MiB broadcast must not hold executor blocks for as long as
      // the plan reference happens to live: materialize the (compact)
      // fresh-docs result eagerly, then destroy the broadcast
      val out = Dedup.materializeAndRelease(freshByProbe(newDocs, corpus, key, hit))
      bc.destroy()
      out
    }
  }

  private def freshByProbe(newDocs: DataFrame, corpus: DataFrame,
                           key: Column, hit: Column): DataFrame = {
    val definitelyFresh = newDocs.filter(!hit)
    val confirmed = newDocs.filter(hit)
      .join(corpus.select(key.as("__k")).distinct(),
        key === col("__k"), "left_anti")
    definitelyFresh.unionByName(confirmed)
  }
}
