package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.concurrent.TrieMap

/** A corpus artifact shared by several queries (shingles, MinHash pairs,
  * clusters, fingerprints, scores), built at most once per sfDir while it
  * has consumers left to run.
  *
  * Declared once, with every name that reads it: the queries whose plans
  * read it directly and the memos whose BUILD reads it. Everything else —
  * the cache, the build ledger, and when to release — derives from that
  * declaration (see [[Memo.Registry]]). Reuse of shared artifacts within
  * one session, dropped once no pending consumer needs them, is the
  * interactive-session reuse model of EDBT 2020 (PAPERS.md). */
final class Memo[T] private (val name: String, val consumers: Seq[String],
                             build: (SparkSession, String) => T,
                             registry: Memo.Registry) {
  private val cache = TrieMap.empty[String, T]
  // effective consumers finished since the last release (registry lock)
  private[queries] var finished = Set.empty[String]

  def apply(s: SparkSession, sfDir: String): T =
    cache.getOrElseUpdate(sfDir, registry.timed(name)(build(s, sfDir)))

  /** Whether any sfDir's value is currently held. */
  private[queries] def held: Boolean = cache.nonEmpty

  /** Drop every held value, freeing its storage; the distinct kinds of
    * release performed (empty when nothing was held). */
  private[queries] def release(): Seq[String] = {
    val values = cache.values.toSeq
    cache.clear()
    values.map(Memo.free).distinct
  }
}

object Memo {

  /** Free the storage under a memo value and name what was done.
    *
    * A `localCheckpoint` result is a [[LogicalRDD]] whose blocks stay in
    * executor storage until the ContextCleaner sees the RDD unreachable —
    * which needs a garbage collection first, so dropping the reference
    * frees nothing promptly; long sessions then accumulate every memo's
    * blocks, and the storage and GC pressure inflates later heavy
    * queries. Unpersisting
    * the RDD frees the blocks now; the frame is dead afterwards (its
    * lineage was truncated at the checkpoint). Reliable (file) checkpoints
    * hold no blocks; their files go to the ContextCleaner under
    * `cleanCheckpoints=true`. A `persist()`ed frame drops its cache entry
    * and stays usable. Any other value is simply dropped. */
  private def free(value: Any): String = value match {
    case ds: Dataset[_] => ds.queryExecution.logical match {
      case l: LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        "released"
      case _ =>
        ds.unpersist(blocking = false)
        "cache dropped"
    }
    case _ => "dropped"
  }

  /** The memos of one query family, with their build ledger and release
    * rule.
    *
    * Release: a memo's EFFECTIVE consumers are its direct query readers
    * plus the effective consumers of every memo whose build reads it (any
    * of those may be the one that triggers the build). Each memo keeps the
    * set of its effective consumers that finished since it was last
    * released; once that set covers them all, the memo is released. The
    * rule holds in whatever order the runner uses: a memo is never
    * released while a consumer is still to run, and a runner that runs
    * only a subset keeps it until [[releaseAll]]. A memo is always
    * released no later than every memo it reads, because its effective
    * consumers are a subset of theirs.
    *
    * Ledger: every build narrates its wall time and records its EXCLUSIVE
    * seconds (total minus nested memo builds — minhashPairs builds
    * shingleBases inside its own window), so the ledger entries drained
    * after a query sum to exactly the build time inside that query's
    * wall. Bench turns them into `memo:<name>` rows. */
  final class Registry {
    private val memos = scala.collection.mutable.LinkedHashMap.empty[String, Memo[_]]
    private val ledger = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    private val childSecs = new ThreadLocal[List[Array[Double]]] {
      override def initialValue(): List[Array[Double]] = Nil
    }

    /** Declare a memo read by `consumers` (query or memo names). */
    def apply[T](name: String, consumers: String*)(
        build: (SparkSession, String) => T): Memo[T] = synchronized {
      require(!memos.contains(name), s"memo $name declared twice")
      val m = new Memo[T](name, consumers, build, this)
      memos(name) = m
      m
    }

    def all: Seq[Memo[_]] = synchronized(memos.values.toSeq)

    /** The query names whose completion `name` waits for. */
    def effectiveConsumers(name: String): Set[String] = synchronized {
      memos(name).consumers.flatMap { c =>
        if (memos.contains(c)) effectiveConsumers(c) else Set(c)
      }.toSet
    }

    /** Drain (name, exclusive seconds) of the builds since the last call. */
    def drainBuilds(): Seq[(String, Double)] = ledger.synchronized {
      val out = ledger.toList
      ledger.clear()
      out
    }

    /** Record that `query` finished; release every memo whose effective
      * consumers have now all finished. */
    def releaseAfter(query: String): Unit = synchronized {
      memos.values.foreach { m =>
        val waits = effectiveConsumers(m.name)
        if (waits(query)) {
          m.finished += query
          if (waits.subsetOf(m.finished)) {
            m.finished = Set.empty
            narrate(m.name, m.release(), s" after $query")
          }
        }
      }
    }

    /** Release every memo now, whatever its consumers' state. */
    def releaseAll(): Unit = synchronized {
      memos.values.foreach { m =>
        m.finished = Set.empty
        narrate(m.name, m.release(), "")
      }
    }

    private def narrate(name: String, kinds: Seq[String], when: String): Unit =
      if (kinds.nonEmpty) say(s"memo $name ${kinds.mkString(", ")}$when")

    private def say(message: String): Unit = {
      val line = graft.observability.Observability.logLeveled(
        graft.observability.Observability.Level.Info, message)
      println(s"[graft] $line")
    }

    private[queries] def timed[T](name: String)(build: => T): T = {
      val t0 = System.nanoTime()
      childSecs.set(new Array[Double](1) :: childSecs.get())
      try build
      finally {
        val nested = childSecs.get().head(0)
        childSecs.set(childSecs.get().tail)
        val total = (System.nanoTime() - t0) / 1e9
        childSecs.get() match {
          case parent :: _ => parent(0) += total
          case Nil => ()
        }
        ledger.synchronized { ledger += ((name, total - nested)) }
        say(f"memo $name built in $total%.3f s")
      }
    }
  }
}
