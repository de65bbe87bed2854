package graft.tools

import graft.{GraftSession, SparkEntry, Tables}

/** Dev diagnostic: time N repetitions of named queries against a warmed
  * session, separating first-run (codegen/planning) cost from steady-state.
  * Usage: runMain graft.tools.Time <sfDir> <reps> <queryName> [...] */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.read(spark, sfDir, t).count())
    // micro-benchmarks dissecting the document-shingle pipeline shape
    import org.apache.spark.sql.functions._
    import graft.dedup.Dedup
    import graft.functions.TextAnalysis
    def docs = Tables.documents(spark, sfDir)
    val micro: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "x_scan" -> (() => docs.select(col("doc_id"))),
      "x_md5" -> (() => docs.select(md5(col("text")).as("h"))),
      "x_tokens" -> (() => docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))),
      "x_shingles" -> (() => docs.select(explode(Dedup.shingles(TextAnalysis.tokens(col("text")), 3)).as("sh"))),
      "x_shingles_hash" -> (() => docs.select(explode(transform(
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3),
        sh => Dedup.hexHash(sh))).as("sh"))),
      "x_shingles_hash_distinct" -> (() => docs.select(explode(array_distinct(transform(
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3),
        sh => Dedup.hexHash(sh)))).as("sh"))),
      "x_shingles_md5only" -> (() => docs.select(explode(transform(
        Dedup.shingles(TextAnalysis.tokens(col("text")), 3),
        sh => md5(sh))).as("sh"))),
      "x_explodethenhash" -> (() => docs
        .select(explode(Dedup.shingles(TextAnalysis.tokens(col("text")), 3)).as("sh"))
        .select(Dedup.hexHash(col("sh")).as("h"))),
      // ngramJaccard internals
      "x_ng_shingletable" -> (() => docs.select(col("doc_id"),
        explode(array_distinct(transform(
          Dedup.shingles(split(trim(col("text")), " "), 3),
          sh => Dedup.hexHash(sh)))).as("sh"))),
      // url-canonicalization cold-cost dissection
      "x_url_nohof" -> (() => {
        val rest = regexp_replace(regexp_replace(col("url"), "#.*$", ""),
          "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
        docs.withColumn("url", concat(col("source"), lit(".org/p/"),
            (col("doc_id") % 17).cast("string"), lit("?id=1&utm_a=2")))
          .select(concat(
            regexp_extract(rest, "^([^/?]+)", 1),
            regexp_extract(rest, "^[^/?]+(/[^?]*)?", 1),
            regexp_extract(rest, "\\?(.*)$", 1)).as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("n"))
      }),
      "x_url_hofonly" -> (() => {
        docs.withColumn("q0", concat(lit("id="),
            (col("doc_id") % 17).cast("string"), lit("&utm_a=2&ref=rss")))
          .select(array_join(array_sort(filter(split(col("q0"), "&"),
            p => p =!= "" && !p.rlike("^(utm_[^=]*|ref)(=.*)?$"))), "&").as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("n"))
      }),
      "x_ng_selfjoin" -> (() => {
        val ds = docs.select(col("doc_id"),
          explode(array_distinct(transform(
            Dedup.shingles(split(trim(col("text")), " "), 3),
            sh => Dedup.hexHash(sh)))).as("sh"))
        ds.as("a").join(ds.as("b"), Seq("sh"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
      })
    )
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = micro.get(n).map(_.apply())
          .getOrElse(SparkEntry.queries(n)(spark, sfDir))
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        (t1 - t0, t2 - t1, t3 - t2)
      }
      def s(ns: Long) = f"${ns / 1e9}%.3f"
      println(f"$n%-28s " + times.map { case (b, p, e) =>
        s"[build ${s(b)} plan ${s(p)} exec ${s(e)}]"
      }.mkString(" "))
    }
    spark.stop()
  }
}
