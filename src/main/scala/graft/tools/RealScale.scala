package graft.tools

import graft.GraftSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Generates a GENUINE larger-scale dataset (default 10× = "sf1") by
  * re-running the testdata's generative process at a larger n — fresh
  * hash-derived content, NOT perturbed copies of existing rows — so
  * duplicate DENSITY stays constant as the corpus grows (the
  * [[ScaleProbe]] perturbed-copy probe inflates near-dup pair mass
  * quadratically across copies, which round-13's VERDICT asked to
  * separate from genuine data-volume scaling).
  *
  * The generator mirrors the measured sf0.1 distributions: the same
  * 31-token vocabulary, 10–100 tokens/doc, the observed language mix
  * (en 41 / zh 15 / es 15 / fr 15 / de 14), 20 sources, ~5% of docs
  * generated as single-base near-dup copies (1-in-15 token mutation)
  * and ~0.16% as exact dups — each dup doc pairs with ONE base, so
  * near-dup pairs scale LINEARLY with n. Embeddings are drawn per label
  * from the source's measured per-(label, dim) mean/std (sum-of-three-
  * uniforms noise). Relational tables scale by id-shifted replication
  * (their queries scale with row count, not content novelty — same as
  * ScaleProbe).
  *
  * Deterministic: every value is hash-derived from ids — no RNG; two
  * generations produce identical bytes.
  *
  * VOCABULARY MODES (round 15): `closed` replays the testdata's own
  * 31-token vocabulary — faithful to the source distributions, but the
  * 3-shingle space (31³ ≈ 30k) SATURATES, so shingle df grows with
  * corpus size and the similarity families' TRUE pair output grows
  * super-linearly (the r14 probe measured the generator's artifact, not
  * the engine). `open` grows the type count with corpus size by Heaps'
  * law — V(N) = max(31, 30·√N) over N total tokens, each token drawn
  * half from the 31-word Zipf head (stopword-like mass, df-capped by
  * the dedup pipeline as in a real corpus) and half from the open tail
  * — so shingle-space density, and with it duplicate candidate density,
  * stays constant BY CONSTRUCTION as the corpus scales. Scale ratios
  * must be taken open-vs-open (generate factor 1 AND factor N with the
  * same mode).
  *
  * Usage: runMain graft.tools.RealScale <srcSfDir> <outDir> [factor] [closed|open]
  * then SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  */
object RealScale {

  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val openVocab = args.length > 3 && args(3) == "open"
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)

    def h(cols: Column*): Column = abs(hash(cols: _*))

    // ---- documents: fresh generation at factor × the source count ----
    val nDocs = spark.read.parquet(s"$src/documents.parquet").count() * factor
    val vocab = typedLit(Vocab)
    val id = col("id")
    val isExact = h(id, lit("x")) % 625 === 0 && id >= 5
    val isDup = h(id, lit("d")) % 20 === 0 && id >= 5 && !isExact
    // dup/exact docs copy ONE nearby base (linear pair growth)
    val eff = when(isExact || isDup, id - lit(1) - h(id, lit("b")) % 4)
      .otherwise(id)
    val ntok = (lit(10) + h(eff, lit("n")) % 91).cast("int")
    // Heaps-law type pool for the open tail: V = 30·√(total tokens),
    // total tokens ≈ nDocs × 55 (the 10–100 uniform mean)
    val tailTypes: Long =
      math.max(31L, (30.0 * math.sqrt(nDocs * 55.0)).toLong)
    def tok(seed: Column, i: Column, salt: String): Column =
      if (!openVocab)
        element_at(vocab, (h(seed, i, lit(salt)) % 31).cast("int") + 1)
      else when(h(seed, i, lit(salt + "h")) % 2 === 0,
        element_at(vocab, (h(seed, i, lit(salt)) % 31).cast("int") + 1))
        .otherwise(concat(lit("w"),
          (h(seed, i, lit(salt + "t")) % tailTypes).cast("string")))
    val toks = transform(sequence(lit(0), ntok - 1), i =>
      when(isDup && h(id, i, lit("m")) % 15 === 0, tok(id, i, "r"))
        .otherwise(tok(eff, i, "t")))
    val text = concat_ws(" ", toks)
    val langPick = h(id, lit("l")) % 100
    val lang = when(langPick < 41, "en").when(langPick < 56, "zh")
      .when(langPick < 71, "es").when(langPick < 86, "fr").otherwise(lit("de"))
    spark.range(nDocs).select(
      id.as("doc_id"),
      text.as("text"),
      lang.as("lang"),
      concat(lit("src"), (h(id, lit("s")) % 20).cast("string")).as("source"),
      length(text).as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // ---- embeddings: fresh draws from measured per-(label, dim) stats ----
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = emb.count() * factor
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val stats = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(avg(col("x")).as("mu"), stddev_pop(col("x")).as("sigma"))
      .collect() // bounded: labels × dims
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    val labels = stats.keys.map(_._1).toSeq.distinct.sorted
    val mus = typedLit(labels.map(l => (0 until dims).map(j => stats((l, j))._1)))
    val sigmas = typedLit(labels.map(l => (0 until dims).map(j => stats((l, j))._2)))
    val vid = col("id")
    val label = (h(vid, lit("L")) % labels.length).cast("int")
    def u(j: Column, salt: String): Column =
      (h(vid, j, lit(salt)) % 2001 - 1000).cast("double") / 1000.0
    val vec = transform(sequence(lit(0), lit(dims - 1)), j =>
      (element_at(element_at(mus, label + 1), j.cast("int") + 1) +
        element_at(element_at(sigmas, label + 1), j.cast("int") + 1) *
          (u(j, "a") + u(j, "b") + u(j, "c"))).cast("float"))
    spark.range(nVec).select(
      vid.as("vec_id"), vec.as("embedding"), label.as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // ---- relational tables: id-shifted replication (as ScaleProbe) ----
    val keyed = Seq(
      "lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey", "c_nationkey"),
      "supplier" -> Seq("s_suppkey", "s_nationkey"),
      "part" -> Seq("p_partkey"),
      "events" -> Seq.empty[String])
    keyed.foreach { case (name, shiftCols) =>
      val t = spark.read.parquet(s"$src/$name.parquet")
      val n = t.count()
      val st = math.max(n * 2, 1L)
      val rep = (0 until factor).map { c =>
        shiftCols.foldLeft(t) { (acc, k) =>
          acc.withColumn(k, col(k) + lit(c * st))
        }
      }.reduce(_ unionAll _)
      rep.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    Seq("region", "nation").foreach { name =>
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    println(s"[realscale] wrote genuine ${factor}x of $src to $out " +
      s"(vocab=${if (openVocab) "open" else "closed"})")
    spark.stop()
  }
}
