package graft.tools

import graft.{GraftSession, Tables}

/** Scale-probe diagnostic: TRUE answer masses of the duplicate-pair
  * families at a given sfDir — run at two scales, the ratio of ANSWER
  * rows explains (or indicts) the ratio of runtimes (work ∝ answer is
  * the banded-LSH contract; a runtime ratio far above the answer ratio
  * would be a plan weakness instead).
  * Usage: runMain graft.tools.PairMass <sfDir> */
object PairMass {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)
    val emb = Tables.embeddings(spark, d)
    val nVec = emb.count()
    // the e_cosine_neardup memo's exact knobs (ExtQueries NearDup*)
    val cos = graft.similarity.Similarity.cosineNearDupPairs(
      emb, "vec_id", "embedding",
      threshold = 0.25, bandBits = 6, nBands = 8).count()
    val docs = Tables.documents(spark, d)
    val nDocs = docs.count()
    val sim = graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text").count()
    println(s"""{"sf":"$d","n_vecs":$nVec,"cosine_neardup_pairs":$cos,"n_docs":$nDocs,"simhash_pairs":$sim}""")
    spark.stop()
  }
}
