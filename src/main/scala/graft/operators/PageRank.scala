package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixed-iteration PageRank — the graph-centrality
  * complement of connected components: CC says WHICH docs form a
  * duplication neighborhood, PageRank says which doc sits at its CENTER
  * (the natural canonical-representative choice, and the influence
  * measure for any doc/link graph this engine is fed).
  *
  * Fixed iteration count, no convergence test: the result is a pure
  * function of (edges, iterations, damping), reproducible anywhere and
  * SQL-unrollable for the oracle. Every iteration's ranks are rounded to
  * 6 dp — the same cross-engine determinism convention as every float
  * output in this engine, applied per ROUND so floating-point drift can
  * never compound across iterations between engines.
  *
  * Scale shape per iteration: contributions = edges ⋈ ranks ⋈ out-degree
  * on the source id (the degree table is edge-grain aggregated once,
  * up-front), then ONE map-side-combined sum keyed on the destination —
  * work ∝ edges, state ∝ nodes, the textbook Spark PageRank profile. The
  * node and degree tables persist across iterations; each iteration's
  * rank table is small (one double per node) and replaces its
  * predecessor. Dangling nodes (no out-edges) contribute nothing and
  * still RECEIVE rank via the teleport term — symmetric graphs (the
  * near-dup use) have none by construction. */
object PageRank {

  /** `edges` = directed (src, dst) long columns; duplicate edges count as
    * parallel edges (weight by multiplicity), matching the unrolled SQL. */
  def apply(edges: DataFrame, iterations: Int,
            damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // size the loop's shuffles from the job-free input-byte hint so a
    // toy graph runs single-task rounds while an at-scale one keeps the
    // session's partitioning; see [[LoopConf]]
    LoopConf.scopedByInputs(Seq(e)) { case Seq(e) =>
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().persist()
    val n = nodes.count()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).persist()
    // derived from `damping` so a non-default damping keeps mass
    // preservation; rendered as the SAME (1.0 - d) expression in the
    // oracle SQL and the spec reference so all engines share the exact
    // IEEE double (1.0 - 0.85 != 0.15 bit-for-bit)
    val teleport = (1.0 - damping) / n
    // the iteration chain stays LAZY: each rank table has exactly one
    // consumer (the next iteration), so nothing recomputes and the final
    // action runs the whole bounded-depth chain in one pass — per-round
    // materialization only pays off past the plan-analysis depth where
    // checkpointing becomes necessary (the CC star loop regime, ~10+
    // rounds), not at the fixed handful used here
    var ranks = nodes.withColumn("rank", round(lit(1.0 / n), 6))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("outdeg")).as("inflow"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          round(lit(teleport) +
            lit(damping) * coalesce(col("inflow"), lit(0.0)), 6).as("rank"))
    }
    graft.dedup.Dedup.materializeAndRelease(ranks, nodes, deg)
    }
  }
}
