package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-core peeling — the density filter of the near-dup graph:
  * the k-core is the maximal subgraph where every node keeps degree ≥ k
  * after everything sparser is recursively peeled away. On a duplication
  * graph it separates dense mirror/template farms (which survive peeling)
  * from incidental pairwise matches (which do not) — the standard
  * community-density primitive (Seidman 1983; Batagelj & Zaveršnik's
  * peeling algorithm re-expressed as DataFrame rounds).
  *
  * Each round is one degree aggregation + an anti-join dropping the
  * nodes that fell under k — work ∝ surviving edges, monotonically
  * shrinking, every aggregation map-side combined. The round count is
  * bounded by `maxRounds` so the result is a pure function of
  * (edges, k, maxRounds) — reproducible anywhere and SQL-unrollable for
  * the oracle; peeling reaches its fixpoint within graph-diameter-ish
  * rounds in practice and the loop early-exits there (identical output
  * to running all `maxRounds`, since peeling a stable edge set is a
  * no-op). Iterated state checkpoints per round — the CC star-loop plan
  * discipline. */
object KCore {

  /** Members of the BOUNDED k-core peel of the undirected graph `pairs`
    * ((doc_a, doc_b), doc_a < doc_b, distinct), with their within-core
    * degree. Returns (doc_id, core_degree), empty when the k-core is.
    *
    * Exact k-core when the peel fixpoint is reached within `maxRounds`
    * (the usual case — diameter-ish rounds); on adversarial shapes (long
    * pendant chains peel one node per round) the bounded result is a
    * SUPERSET of the true k-core and may retain nodes with degree < k.
    * That truncation is part of the operator's contract (the oracle
    * unrolls the same bounded rounds), and an unconverged exit is
    * narrated through the leveled log (Warning) so a caller that needs
    * the exact core knows to raise `maxRounds`. */
  def coreMembers(pairs: DataFrame, k: Int, maxRounds: Int = 8): DataFrame =
    coreMembersWithStatus(pairs, k, maxRounds)._1

  /** [[coreMembers]] plus the CONVERGED flag: `true` iff the peel reached
    * its fixpoint within `maxRounds` (the returned members ARE the exact
    * k-core), `false` when the loop exited on the round bound with
    * under-degree nodes remaining (the bounded-peel SUPERSET — same rows
    * the oracle's unrolled rounds produce, but not the exact core).
    * Callers that must not act on a superset (e.g. "delete every member
    * of the dense core") check this flag instead of parsing logs. */
  def coreMembersWithStatus(pairs: DataFrame, k: Int,
                            maxRounds: Int = 8): (DataFrame, Boolean) = {
    require(k >= 1 && maxRounds >= 1)
    def iterCheckpoint(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    // size the peel rounds' shuffles from the job-free input-byte hint —
    // see [[LoopConf]] (the edge set only shrinks, so the input bound
    // holds for every round)
    val (core, exact) =
      LoopConf.scopedByInputs(Seq(pairs)) { case Seq(pairs) =>
    // symmetric orientation: per-node degree is then one groupBy on src
    var ed = iterCheckpoint(pairs
      .select(explode(array(
        struct(col("doc_a").cast("long").as("s"), col("doc_b").cast("long").as("t")),
        struct(col("doc_b").cast("long").as("s"), col("doc_a").cast("long").as("t"))))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t")))
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      val bad = ed.groupBy(col("s")).agg(count(lit(1)).as("d"))
        .filter(col("d") < k).select(col("s"))
      if (bad.isEmpty) done = true
      else ed = iterCheckpoint(ed
        .join(bad, Seq("s"), "left_anti")
        .join(bad.select(col("s").as("t")), Seq("t"), "left_anti")
        .select(col("s"), col("t")))
      r += 1
    }
    var converged = done
    if (!done) {
      // loop exited on the round bound, not the fixpoint — check whether
      // the final edge set actually converged (one cheap aggregation on
      // the already-checkpointed survivor edges)
      converged = ed.groupBy(col("s")).agg(count(lit(1)).as("d"))
        .filter(col("d") < k).limit(1).count() == 0
      if (!converged)
        graft.observability.Observability.logLeveled(
          graft.observability.Observability.Level.Warning,
          s"k-core peel unconverged after $maxRounds rounds (k=$k): " +
            "result is the bounded-peel superset; raise maxRounds for the exact core")
    }
    (ed, converged)
    }
    (LoopConf.rebind(core, pairs.sparkSession).groupBy(col("s").as("doc_id"))
      .agg(count(lit(1)).as("core_degree")), exact)
  }
}
