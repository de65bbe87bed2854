package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Synthesizes the 10× scale-probe dataset the round-end BENCH_sf*_probe
  * runs against (no sf1 testdata exists in this container): every table
  * from the source sfDir is replicated `copies` times with shifted ids,
  * and the similarity-bearing columns are PERTURBED per copy — 1-in-7
  * token mutation in `documents.text`, deterministic jitter on
  * `embeddings.embedding` — so cross-copy pair densities resemble a
  * larger corpus rather than stacked clones (stacked clones would
  * quadratically inflate every near-dup family and measure the wrong
  * thing).
  *
  * Usage: runMain graft.tools.ScaleProbe <srcSfDir> <outDir> [copies]
  * then SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_ONLY=... runMain graft.Bench
  *
  * Deterministic: all mutation is hash-derived from (copy, doc_id, pos) —
  * no RNG, so two generations produce identical bytes. */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)

    val copyIds = (0 until copies).toSeq

    // documents: shift doc_id by copy*idStride; mutate ~1/7 of tokens by
    // appending the copy tag (changes the token identity, preserves
    // counts/lengths except a few chars)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val stride = math.max(nDocs * 2, 1L)
    val mutated = copyIds.map { c =>
      val toks = split(trim(col("text")), " ")
      val mut =
        if (c == 0) col("text")
        else concat_ws(" ",
          transform(toks, (t, i) =>
            when(abs(hash(col("doc_id"), i, lit(c))) % 7 === 0,
              concat(t, lit(s"x$c"))).otherwise(t)))
      docs.select(
        (col("doc_id") + lit(c * stride)).as("doc_id"),
        mut.as("text"), col("lang"),
        concat(col("source"), lit(s"_c$c")).as("source"),
        length(mut).as("n_chars"))
    }.reduce(_ unionAll _)
    mutated.write.mode("overwrite").parquet(s"$out/documents.parquet")

    // embeddings: shift vec_id; deterministic per-dimension jitter ±2%
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = emb.count()
    val vStride = math.max(nVec * 2, 1L)
    val jittered = copyIds.map { c =>
      val vec =
        if (c == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x * (lit(1.0f) +
            (abs(hash(col("vec_id"), i, lit(c))) % 41 - 20).cast("float")
              / lit(1000.0f))).cast("float"))
      emb.select((col("vec_id") + lit(c * vStride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
    jittered.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // remaining tables: plain id-shifted replication (the relational
    // queries scale with row count, not content novelty)
    val keyed = Seq(
      "lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey", "c_nationkey"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"),
      "part" -> Seq("p_partkey"),
      "events" -> Seq())
    keyed.foreach { case (name, shiftCols) =>
      val t = spark.read.parquet(s"$src/$name.parquet")
      val n = t.count()
      val st = math.max(n * 2, 1L)
      val rep = copyIds.map { c =>
        shiftCols.foldLeft(t) { (acc, k) =>
          acc.withColumn(k, col(k) + lit(c * st))
        }
      }.reduce(_ unionAll _)
      rep.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    // tiny dims copy through unchanged (broadcast side at any scale)
    Seq("region", "nation").foreach { name =>
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    println(s"[probe] wrote ${copies}x of $src to $out")
    spark.stop()
  }
}
