package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous majority-vote label propagation (Raghavan et al. 2007,
  * the deterministic synchronous variant) — the community-detection
  * complement to connected components on the near-dup graph: CC answers
  * "which docs are transitively linked at all", LPA answers "which docs
  * form a densely interlinked neighborhood", splitting chains of
  * paraphrase drift that CC glues into one blob.
  *
  * Each node starts as its own label; every round each node adopts the
  * most frequent label among its neighbors AND itself (smallest label on
  * ties), all nodes updating simultaneously from the previous round's
  * labels. The classic async/random variant is non-deterministic; fixing
  * sync order + min-tie-break makes the result a pure function of
  * (edges, rounds) — reproducible on any cluster and SQL-unrollable for
  * the oracle. The self-vote is what makes the synchronous variant
  * stable: without it a 2-clique (and any bipartite region) oscillates
  * label-swapping forever (Raghavan et al. §3 note the same fix).
  *
  * Scale shape: one round = one edge-sized equi-join (edge dst → label)
  * + two map-side-combined aggregations (vote count, then per-node
  * argmax as a min-struct — never a window). Work ∝ edges per round,
  * rounds bounded; iterated state checkpoints per round (the CC
  * star-loop plan discipline — unbounded lineage under self-joins costs
  * optimizer time long before it costs executor time). */
object LabelPropagation {

  /** Community labels after `rounds` synchronous majority votes over the
    * undirected graph `pairs` ((doc_a, doc_b), doc_a < doc_b, distinct).
    * Returns (doc_id, community) — every node that appears in an edge is
    * labeled; labels are node ids (the round-0 self-labels that won). */
  def communities(pairs: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1)
    def iterCheckpoint(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    // size the loop's shuffles from the job-free input-byte hint — see
    // [[LoopConf]] (toy graphs: single-task rounds; at scale: the
    // session's own partitioning, unchanged)
    LoopConf.scopedByInputs(Seq(pairs)) { case Seq(pairs) =>
    val ed = iterCheckpoint(pairs
      .select(explode(array(
        struct(col("doc_a").cast("long").as("s"), col("doc_b").cast("long").as("t")),
        struct(col("doc_b").cast("long").as("s"), col("doc_a").cast("long").as("t"))))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t")))
    // round 0: self-labels. Every node in `ed` has ≥ 1 neighbor (it came
    // from an edge), so each round's vote covers every node — the label
    // table never loses rows.
    var labels = ed.select(col("s").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to rounds) {
      val votes = ed
        .join(labels.select(col("id").as("t"), col("lbl")), Seq("t"))
        .select(col("s"), col("lbl"))
        // the stabilizing self-vote: each node's own label counts once
        .unionByName(labels.select(col("id").as("s"), col("lbl")))
        .groupBy(col("s"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax as min(struct(-count, label)): largest count, then
      // smallest label — lexicographic struct order, map-side combined
      labels = iterCheckpoint(votes
        .groupBy(col("s").as("id"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("best"))
        .select(col("id"), col("best.l").as("lbl")))
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("community"))
    }
  }
}
