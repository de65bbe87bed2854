package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust per-group location/scale + outlier census for an INTEGER
  * metric: median, MAD (median absolute deviation), and the count of
  * rows outside the Hampel cut `|x − med| > 3 · 1.4826 · MAD` — the
  * outlier identifier that, unlike mean/stddev z-scores, cannot be
  * dragged by the outliers it is hunting (breakdown point 50% vs 0%).
  *
  * Scale shape: ONE map-side-combined value-count pass over the rows,
  * then every later stage — both medians, the deviation histogram, and
  * the outlier census — folds the bounded (group, value, count)
  * histogram, never the rows again (the domain is integer-bounded, so
  * the histogram is corpus-independent; the same two-pass discipline as
  * [[Winsorize]], here collapsed to one data pass + histogram algebra).
  * The per-group median/MAD cut tables are bounded driver artifacts
  * (rows = groups, the [[GlobalRank]] histogram discipline) rejoined as
  * local relations — re-deriving them as live broadcast subqueries made
  * the optimizer re-expand the whole chain once per consumer (measured:
  * 5× the CPU of the row-pass itself). The Hampel compare is done in
  * scaled integers (`dev · 10⁴ > 44478 · MAD`, since 3 · 1.4826 =
  * 44478/10⁴ exactly), so every reported number is integer-exact and
  * FP-order-independent across engines.
  *
  * Median convention: percentile_disc at 0.5 — the smallest value whose
  * cumulative count reaches ceil(n/2) (lower median; no interpolation,
  * so engines cannot disagree on even-sized groups). */
object RobustStats {

  /** Hampel cut as an exact rational: 3 · 1.4826 = 4.4478 = 44478/10⁴. */
  private val CutNum = 44478L
  private val CutDen = 10000L

  /** Guard for the per-group driver tables — same idea as
    * [[GlobalRank.withRank]]'s maxBins: a caller whose group column is
    * effectively a row key fails loudly instead of OOMing the driver. */
  private val MaxGroups = 1 << 20

  /** Collect a bounded per-group stats frame into a LOCAL relation (with
    * the guard LIMIT under the collect), so downstream joins against it
    * broadcast a literal instead of re-executing its plan as a live
    * subquery per consumer. */
  private def localize(df: DataFrame): DataFrame = {
    val rows = df.limit(MaxGroups + 1).collect()
    require(rows.length <= MaxGroups,
      s"more than $MaxGroups groups — too many for a driver stats table")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Per-group (n_rows, median, mad, n_outliers) of integer column
    * `valueCol`, ordered by group. `scale` divides the integer domain
    * back to display units in the two reported statistics (e.g. cents →
    * 100.0); the outlier census itself never leaves integers. */
  def medianMadOutliers(df: DataFrame, groupCol: String, valueCol: String,
                        scale: Double = 1.0): DataFrame = {
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    // every reduce stage below works on the bounded histogram — size the
    // shuffles from the measured input instead of the session constant
    // ([[LoopConf]]: at scale the clamp keeps today's partitioning; at
    // bench scale a 33-task stage per tiny window is pure task overhead)
    LoopConf.scopedByInputs(Seq(base)) { case Seq(base) =>
    // the ONLY pass over the rows; every stage below folds this histogram.
    // The consumers are sequential driver actions, each reading the cache
    // exactly once, so the first (med's collect) materializes it — no
    // concurrent-reader race, no eager count needed
    val vc = base.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt")).persist()
    val med = localize(rankMedianCounts(vc)).withColumnRenamed("cut", "med")
    // deviation HISTOGRAM from the value histogram: |v − med| groups merge
    // counts (values equidistant from the median fold together) — the same
    // multiset of deviations the per-row pass produced, at histogram size
    val dvc = vc.join(broadcast(med), Seq("g"))
      .groupBy(col("g"), abs(col("v") - col("med")).as("v"))
      .agg(sum(col("cnt")).as("cnt"))
    val mad = localize(rankMedianCounts(dvc)).withColumnRenamed("cut", "mad")
    val result = vc.join(broadcast(med), Seq("g"))
      .join(broadcast(mad), Seq("g"))
      .groupBy(col("g").as(groupCol))
      .agg(sum(col("cnt")).as("n_rows"),
        round(first(col("med")) / lit(scale), 6).as("median"),
        round(first(col("mad")) / lit(scale), 6).as("mad"),
        sum(when(abs(col("v") - col("med")) * CutDen > col("mad") * CutNum,
          col("cnt")).otherwise(lit(0L))).as("n_outliers"))
      .orderBy(groupCol)
    graft.dedup.Dedup.materializeAndRelease(result, vc)
    }
  }

  /** Lower median per group g over a (g, v, cnt) VALUE-COUNT table via
    * the running sum: smallest value with cum ≥ ceil(n/2). The group
    * total rides the SAME exchange as the running sum (an unordered
    * window over the same partitioning), so the input is read once.
    * Returns (g, cut). */
  private def rankMedianCounts(vc: DataFrame): DataFrame = {
    val wRun = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("g"))
    vc.select(col("g"), col("v"),
        sum(col("cnt")).over(wRun).as("cum"),
        sum(col("cnt")).over(wAll).as("n"))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy(col("g")).agg(min(col("v")).as("cut"))
  }
}
