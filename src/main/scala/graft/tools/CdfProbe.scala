package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.storage.SnapshotStore

/** Commit-count scale probe of the per-commit change feed (round 20 —
  * VERDICT #5): the round-19 10× probe read 1.03× because per-commit
  * CONSTANTS dominated at sf scale, hiding the boundary join's O(table)
  * asymptotics. This probe varies BOTH axes explicitly:
  *
  *   - builds the same table at 1× and 10× the base row count (content
  *     is irrelevant to CDF cost — id-shifted replication suffices),
  *   - applies the SAME run of K small commits to each (alternating
  *     10-row appends and DV point deletes — the steady-state CDC mix),
  *   - times `table_changes(v-1, v)` per commit on both tables
  *     (the per-commit path), and the BOUNDARY join on a sample of the
  *     same pairs (the pre-round-20 cost, kept for non-adjacent NET
  *     ranges).
  *
  * PASS shape: per-commit median FLAT across the 10× table-size step
  * (ratio ≈ 1) and total ≈ K × median (linear in commit count), while
  * the boundary median GROWS with table size — the asymptotic gap the
  * decomposition exists to close.
  *
  * Usage: runMain graft.tools.CdfProbe <sfDir> [K] [workDir]
  * Prints one JSON line (the BENCH_* probe convention).
  */
object CdfProbe {

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(s.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(50)
    val work = args.lift(2).getOrElse("/tmp/graft_cdf_probe")
    val spark = GraftSession.local(32)
    try {
      val docs = graft.Tables.read(spark, sfDir, "documents")
        .select("doc_id", "source", "lang", "text")
      val n = docs.count()
      def replicated(copies: Int): DataFrame =
        (0 until copies).map(i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10L * n)))
          .reduce(_.unionByName(_))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val results = Seq(("1x", 1), ("10x", 10)).map { case (label, copies) =>
        val dir = s"$work/tbl_$label"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val base = replicated(copies)
        SnapshotStore.commit(spark, dir,
          base.repartitionByRange(8 * copies, col("doc_id")), "ingest",
          tblProperties = Map("graft.cdfKeys" -> "doc_id"))
        val freshBase = 100L * n * 100L
        // K small commits: the steady-state CDC mix
        (1 to k).foreach { i =>
          if (i % 2 == 1)
            SnapshotStore.commitAppend(spark, dir,
              spark.range(freshBase + i * 100L, freshBase + i * 100L + 10L)
                .select(col("id").as("doc_id"), lit("probe").as("source"),
                  lit("en").as("lang"), lit(s"probe doc $i").as("text")),
              "append")
          else
            SnapshotStore.deleteWhereDv(spark, dir,
              SnapshotStore.FilePredicate.EqTo("doc_id",
                freshBase + (i - 1) * 100L))
        }
        val latest = SnapshotStore.latestVersion(spark, dir).get
        val pairs = (2L to latest)
        // per-commit: every pair (the steady-state consumer's cost)
        val perTimes = pairs.map { v =>
          timed(SnapshotStore.readTableChanges(spark, dir, v - 1, Some(v))
            .count())._1
        }
        // boundary: a 5-pair sample (it is O(table) — sampling keeps the
        // probe itself honest about wall time)
        val boundaryTimes = pairs.take(5).map { v =>
          timed(SnapshotStore.readRowChangesBoundary(spark, dir, v - 1, v,
            Seq("doc_id")).count())._1
        }
        (label, copies * n, median(perTimes), perTimes.sum,
          median(boundaryTimes))
      }
      val (l1, n1, pm1, pt1, bm1) = results(0)
      val (l2, n2, pm2, pt2, bm2) = results(1)
      println(
        s"""{"probe":"cdf_commits","k":$k,"rows_$l1":$n1,"rows_$l2":$n2,""" +
        s""""per_commit_median_1x":${f"$pm1%.4f"},""" +
        s""""per_commit_median_10x":${f"$pm2%.4f"},""" +
        s""""per_commit_ratio_10x":${f"${pm2 / math.max(pm1, 1e-9)}%.3f"},""" +
        s""""per_commit_total_1x":${f"$pt1%.3f"},""" +
        s""""per_commit_total_10x":${f"$pt2%.3f"},""" +
        s""""linear_in_k_10x":${f"${pt2 / (k * math.max(pm2, 1e-9))}%.3f"},""" +
        s""""boundary_median_1x":${f"$bm1%.4f"},""" +
        s""""boundary_median_10x":${f"$bm2%.4f"},""" +
        s""""boundary_ratio_10x":${f"${bm2 / math.max(bm1, 1e-9)}%.3f"}}""")
    } finally spark.stop()
  }
}
