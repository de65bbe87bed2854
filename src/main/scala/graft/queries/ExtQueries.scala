package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextAnalysis
import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [E] LLM-data-pipeline operators (SURVEY.md §2, BASELINE.json north star):
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  * similarity search (brute-force + LSH-bucketed ANN), text analysis
  * (lang-ID / quality / token counts / fingerprint), multimodal metadata.
  *
  * The DuckDB oracles are GENERATED from the same constants as the Spark
  * code (salt count, band layout, hash formulas), so algorithm and oracle
  * cannot drift apart.
  */
object ExtQueries {

  type Q = (SparkSession, String) => DataFrame

  private val K = 12          // minhash salts
  private val W = 3           // shingle width (words)
  private val BandRows = 2    // signature rows per LSH band
  private val KnnK = 5        // neighbors in the kNN label-vote eval
  // bucketed-batching caps for the padding report (strictly ascending;
  // the largest doubles as the max-seq-len clip)
  private val LenBucketCaps = Seq(16L, 32L, 64L, 128L, 256L, 512L)
  private val SimBits = 16    // simhash bits
  /** Oracle-side mirror of `Dedup.simhashPrefixBitsFor(count, 64,
    * SimBits)`: smallest p in [1, SimBits-1] with 64·2^p ≥ n — integer
    * arithmetic on both engines, no FP log. */
  private lazy val simPrefixSql: String =
    s"(SELECT COALESCE(MIN(p), ${SimBits - 1}) FROM range(1, $SimBits) t(p) " +
      "WHERE 64 * (1 << p) >= (SELECT COUNT(*) FROM documents))"
  private val AnnDims = Seq(0, 8, 16, 24)
  private val NearDupBandBits = 6   // sign bits per LSH band (near-dup pairs)
  private val NearDupBands = 8      // OR-amplified bands (cover dims 0..47)
  private val NearDupThreshold = 0.25
  // Hot-shingle document-frequency cap for e_ngram_jaccard (engine AND
  // oracle): at sf0.1 shingles with df 11-50 carried 1.75M of the candidate
  // join's 2.79M pair rows while contributing no near-dup signal; 10 keeps
  // pair work linear (≤ 10 partners per shingle instance) at every scale.
  private val JaccardMaxDf = 10L
  // containment threshold (e_containment_dup): keep a pair when EITHER
  // direction's containment clears it (max of the two)
  private val ContainMin = 0.5
  // LSH→verify stage (e_edit_verify): chars of text prefix compared per
  // candidate pair — caps verification at O(EditPrefix²) per pair no
  // matter how long the documents are — and the normalized-similarity
  // floor for confirming a candidate as a true duplicate (the corpus's
  // planted near-dups sit ≥ 0.9, unrelated bucket-mates ≤ 0.4)
  private val EditPrefix = 160
  private val EditSimMin = 0.8
  // Jaro-Winkler verification floor (e_jaro_verify): JW compresses the
  // scale upward (shared-prefix boost), so the dup/non-dup split sits
  // higher than the edit-similarity one
  private val JaroMin = 0.95
  // IDF-weighted set cosine floor (e_idf_cosine)
  private val IdfCosMin = 0.3
  // bottom-k resemblance sketch (e_bottomk_resemblance): sketch size and
  // the hash fold (2^40 keeps every downstream double exact); the
  // certificate bound is the ~3σ envelope 3/√k
  private val BkK = 128
  private val BkMod = 1L << 40
  // sorted-neighborhood blocking (e_sorted_neighborhood): blocking-key
  // width, sort/compare prefix width, and the max edit distance between
  // sort-adjacent prefixes that still counts as a candidate pair
  private val SnBlockChars = 8
  private val SnPrefix = 120
  private val SnMaxDist = 40
  // Matryoshka truncation eval (e_matryoshka_recall): prefix widths whose
  // retrieval recall is measured against the full 64-dim ground truth
  private val MatryoshkaDims = Seq(8, 16, 32)
  // Zipf fit (e_zipf_slope): frequency-ranked head the OLS line fits over
  private val ZipfTopN = 100
  // concordance (e_concordance): context tokens shown on each side of a hit
  private val KwicCtx = 3
  // token dispersion (e_token_dispersion): frequency head reported
  private val DispTopN = 20
  // consistent bottom-k sample (e_bottomk_sample): docs kept per source,
  // and the hash modulus (2^40 — comfortably under 2^53 so the double
  // score in the bounded-buffer aggregator stays exact)
  private val BottomK = 5
  private val BottomKMod = 1L << 40
  // winnowing (e_winnow_*): frame width over the shingle-hash stream
  // (guarantee span = window + W − 1 tokens, density 2/(window+1)),
  // minimum shared fingerprints for a match pair, and the checksum
  // modulus (keeps the positional checksum far from bigint overflow in
  // BOTH engines)
  private val WinnowWindow = 4
  private val WinnowMinShared = 3L
  private val WinnowCkMod = 1000003L
  // embedding outlier cut (e_embed_outliers): flag a vector when its
  // squared centroid distance sits ≥ this many population stddevs above
  // its cluster's mean
  private val EmbedOutlierZ = 2.0
  // retrieval chunking (e_chunk_overlap): window size and stride in
  // tokens (overlap = size − stride)
  private val ChunkSize = 12
  private val ChunkStride = 8
  // exact-substring dedup apply (e_span_dedup_apply): minimum duplicated
  // span width in words — every duplicated run of at least this many
  // words loses all but its first occurrence
  private val SpanDedupL = 8
  // code-switch profile (e_code_switch): language-ID segment width in
  // tokens (non-overlapping; the mixed-language detection grain)
  private val CsSegTokens = 10
  // distribution drift (e_dist_drift): report depth of the top
  // JS-divergence-contributing tokens between the en slice and the rest
  private val DriftTopK = 20
  // vocabulary analytics: growth-curve bucket count (e_vocab_growth, at
  // W-shingle grain — the synthetic token vocabulary saturates within the
  // first few docs, the n-gram space keeps growing like a real corpus's
  // token space does) and the tokenizer vocabulary head for the OOV meter
  // (e_oov_rate — sized at half the synthetic vocabulary so the meter has
  // signal at test scale; a production run sets its real 32k-ish size)
  private val VocabGrowthBuckets = 20
  private val OovVocabSize = 16
  // DSIR feature-hash buckets (e_dsir_weights): the model is bounded at
  // this many cells regardless of corpus vocabulary
  private val DsirBuckets = 1024
  // suffix-array repeated spans (e_lcp_repeats): LCP compare window in
  // words, and the report depth
  private val SaWindow = 16
  private val SaTopK = 25
  // simhash multi-table rotation count (e_simhash_multitable)
  private val SimTables = 2
  // perceptual-hash image near-dup (e_phash_neardup): 32-bit dHash over the
  // stub-decoded signal, 2 rotation tables × 8-bit prefix buckets
  private val PhBits = 32
  private val PhPrefix = 8
  private val PhMaxHamming = 3
  private val PhTables = 2
  // audio segment-hash near-dup (e_audio_neardup): 128-byte segments of
  // the stub-decoded stream, each with its own 32-bit difference hash;
  // matching is per SEGMENT (time-shift robust), tighter Hamming cut
  private val AudioSegBytes = 128
  private val AudioMaxHamming = 2
  private val AudioKeyMod = 1L << 20
  // video near-dup (e_video_neardup): every 2nd 256-byte sampled frame,
  // same 32-bit difference hash and Hamming cut as the audio segments
  private val VideoEveryN = 2
  private val VideoFrameBytes = 256
  // IVF recall/cost sweep (e_ann_recall_sweep): probe counts on the curve
  private val SweepProbes = Seq(1, 2, 4, 8)
  private val SweepK = 3

  /** Brute-force eval queries are a bounded deterministic sample (round
    * 13, verdict finding #3): the [[EvalQuerySample]] smallest query ids,
    * so ground-truth cost is O(sample × corpus) at ANY scale factor. The
    * unsampled eval was the 10×-probe's worst ratio (6.1×) because the
    * query COUNT itself grew with the corpus. sf0.01 has only 10 queries
    * (all kept); sf0.1 keeps 16 of 40; sf1+ stays at 16. */
  private val EvalQuerySample = 16
  private val EvalQueryCut = 50L * EvalQuerySample

  /** kNN label-vote eval scores the EVEN-id half as queries — the same
    * bounded-eval discipline at the within-cell grain. */
  private val KnnEvalMod = 2
  // BPE vocabulary induction (e_bpe_merges): learned merge-rule count
  private val BpeMerges = 8
  // count-min sketch geometry (e_heavy_hitters): 4 rows × 256 counters —
  // small enough that collisions actually exercise the min at test scale
  private val CmsDepth = 4
  private val CmsWidth = 256
  private val CmsTopK = 20
  // product quantization (e_pq_encode / e_pq_adc_topk): 4 subspaces × 16
  // dims over the 64-dim embeddings; codewords seed from vec_id % 50 == 1
  private val PqM = 4
  private val PqSubDim = 16
  private val PqTopK = 3
  // BM25 probe query (e_bm25): terms present in the synthetic vocabulary
  private val Bm25Terms = Seq("spark", "query", "window")
  private val Bm25TopK = 20
  // Dirichlet smoothing mass (e_ql_dirichlet): ~mean doc length is the
  // standard choice; docs here average ~60 tokens so μ=300 smooths hard
  // enough that document length matters, the classic QL behavior
  private val QlMu = 300.0
  // priority sample size (e_weighted_sample)
  private val WsN = 50
  // hybrid retrieval (e_hybrid_rrf): RRF constant, per-system list depth,
  // fused result depth; the semantic side queries from vec_id 0
  private val RrfK = 60
  private val RrfDepth = 20
  private val RrfTopK = 10
  // interpolated-bigram LM (e_lm_perplexity2 / e_lm_tail_cut): smoothing α,
  // bigram weight λ, and the decile cut. The oracle SQL interpolates these
  // CONSTANTS (including 1−λ rendered from the Scala double, so both
  // engines multiply by the identical IEEE value — 1.0-0.7 is not the
  // double the literal 0.3 parses to).
  private val LmAlpha = 1.0
  private val LmLambda = 0.7
  // entropy pruning (e_lm_prune): drop bigram entries whose removal costs
  // the corpus less than theta nats/token; theta sits 6e-6 clear of the
  // nearest loss value at sf0.01 (no FP-boundary flips)
  private val LmPruneTheta = 0.0005
  private val LmPruneTopK = 30
  private val LmTailTiles = 10L
  // Kneser-Ney absolute discount (e_lm_kneser_ney)
  private val KnDiscount = 0.75
  // near-dup graph k-core (e_dup_kcore): minimum within-core degree and
  // the bounded peel-round count mirrored in the unrolled oracle
  private val KcoreK = 3
  private val KcoreRounds = 8
  // label propagation (e_label_propagation): synchronous majority-vote
  // rounds — enough for labels to flow across the diameter of a dup
  // neighborhood, small enough to SQL-unroll for the oracle
  private val LpaRounds = 3
  // IVF-PQ exact re-rank (e_ivfpq_rerank): ADC shortlist depth fed to the
  // refine stage (3× the final k — the FAISS IVFPQR convention)
  private val PqRerankDepth = 9
  // hard-negative mining (e_hard_negatives): drop the HnSkip likely
  // positives at the head of each query's ANN shortlist, keep the next
  // HnK as training negatives
  private val HnSkip = 3
  private val HnK = 10
  // Naive-Bayes classifier (e_nb_classify / e_nb_confusion): feature-hash
  // buckets (the model is classes × buckets regardless of vocabulary) and
  // the held-out convention (doc_id % 3 == 0 eval, rest train)
  private val NbBuckets = 2048
  // content-defined chunking (e_cdc_chunks / e_cdc_dedup): rolling-hash
  // window in words and the boundary divisor (expected chunk ≈ divisor
  // tokens) — boundary-shift-immune dedup grain
  private val CdcWindow = 3
  private val CdcDivisor = 8
  // max-chunk cap = 3x the expected chunk length: exercised ~100 times at
  // sf0.01 (gaps reach 56 tokens uncapped), so the graded query really
  // tests the forced-boundary arithmetic, not just the common path
  private val CdcMaxLen = 24
  // temperature-scaled mixture weights (e_mixture_temperature): the
  // multilingual-sampling exponent α (p_i^α renormalized — α=1 keeps the
  // natural distribution, α→0 flattens it; 0.3 is the published mT5 value)
  private val MixAlpha = 0.3
  // kNN label propagation (e_label_prop): seed convention (vec_id % 5 == 0
  // carries its gold label), cosine-edge threshold over the banded
  // candidate pairs, and the fixed round count (unrolled in the oracle)
  private val LpSeedMod = 5
  private val LpCosMin = 0.5
  private val LpRounds = 2

  // The corpus memos (queries/Memo.scala): each is declared once below,
  // next to its readers, with every query and memo that reads it; the
  // registry derives the build ledger, release points and release-all.
  private[queries] val memos = new Memo.Registry

  /** Drain (name, exclusive seconds) of memo builds since the last call —
    * Bench's per-query attribution hook. */
  def drainMemoBuilds(): Seq[(String, Double)] = memos.drainBuilds()

  /** Record that `query` finished and release every memo none of whose
    * consumers is left to run — called by Bench after each query. */
  def releaseMemosAfter(query: String): Unit = memos.releaseAfter(query)

  /** Release every memo. For long-lived sessions that move between scale
    * factors, and between whole passes of a suite. */
  def releasePairsCache(): Unit = memos.releaseAll()

  // The corpus explodes into 56-bit shingle hashes ONCE: the memoized
  // per-doc-distinct (doc_id, b1, b2) table from Dedup.shingleBases feeds
  // the MinHash pair build, decontamination, AND n-gram Jaccard — before
  // round 5 the first two each ran their own explode+md5 over the same
  // corpus, doubling the curation funnel's first-build. Materialized
  // (checkpointed) because it is the tokenize-once artifact every consumer
  // fans out from; at 100 TB this is the standard persisted tokenization
  // pass. Since the round-13 default flip, Dedup.shingleBases IS the
  // unicode tokenization, so the explicitly-named unicode queries
  // (e_dedup_unicode / e_decontam_unicode, kept as the documented contract
  // surface) read this same artifact.
  private val docShingleBases = memos("shingleBases",
    "e_bbit_minhash", "e_containment_dup", "e_decontam_unicode",
    "e_dedup_unicode", "e_doc_novelty", "e_minhash_calibration",
    "e_ngram_jaccard", "e_vocab_growth", "minhashPairs", "decontamHits",
    "idfCosineSets", "sourceJaccardSets", "prefixJoinPairs") {
    (s, d) => Dedup.materializeAndRelease(
      Dedup.shingleBases(Tables.documents(s, d), "doc_id", "text", W))
  }

  // Three queries (minhash candidates, dedup-apply, near-dup clusters) share
  // the same signatures→bands→candidate-pairs subplan; memoize the UNFILTERED
  // pair table per sfDir and let each query apply its own minEst filter.
  // `minhashCandidatesFromBases` already returns an eagerly-materialized
  // (checkpointed — reliable dir when set, local otherwise) compact table
  // with its fat intermediates released, so the memo holds exactly one small
  // pair table per sfDir — bounded — and no further persist() is needed on
  // top. At cluster scale this is the materialized intermediate you'd
  // checkpoint once and fan out from.
  private val minhashPairs = memos("minhashPairs",
    "e_bbit_minhash", "e_cc_incremental", "e_cluster_density",
    "e_connected_components", "e_cross_source_dup", "e_curation_funnel",
    "e_dedup_apply", "e_dedup_authority", "e_dedup_curve", "e_dedup_impact",
    "e_dedup_minhash_lsh", "e_dup_kcore", "e_dup_triangles",
    "e_host_dup_weight", "e_label_propagation", "e_linkage_weights",
    "e_lsh_recall", "e_lsh_recall_sweep", "e_minhash_calibration",
    "nearDupClusters", "ccBaseline") {
    (s, d) => Dedup.minhashCandidatesFromBases(docShingleBases(s, d),
      k = K, bandRows = BandRows)
  }

  // Two queries (near-dup clusters, leakage split) consume the SAME 3-round
  // label-propagation clustering of the high-confidence minhash graph;
  // memoize the compact materialized (doc_id, cluster_id) table per sfDir —
  // labelPropagationClusters already checkpoints its result and releases
  // its edge intermediate, so the memo holds one small table.
  private val nearDupClusters = memos("nearDupClusters",
    "e_cc_sizes", "e_cluster_density", "e_dedup_best", "e_dedup_clusters",
    "e_golden_record", "e_leakage_split") {
    (s, d) => Dedup.labelPropagationClusters(
      minhashPairs(s, d).filter(col("est_jaccard") >= 0.5),
      Tables.documents(s, d), "doc_id", iterations = 3)
  }

  // The benchmark-decontamination hit table (doc_id, n_hits vs the held-out
  // id % 97 == 0 set) feeds both e_decontam and the curation funnel;
  // memoize it materialized per sfDir.
  // Derived from the shared shingle table: the bench side (doc_id % 97 == 0)
  // and corpus side are disjoint slices of it, preserving decontaminate's
  // disjoint-inputs contract.
  private val decontamHits = memos("decontamHits",
    "e_curation_funnel", "e_decontam") { (s, d) =>
    val bases = docShingleBases(s, d)
      .select(col("doc_id"), col("b1").as("sh"))
    Dedup.materializeAndRelease(graft.functions.CorpusFilters
      .decontaminateFromShingles(
        bases.filter(col("doc_id") % 97 =!= 0),
        bases.filter(col("doc_id") % 97 === 0).select(col("sh")).distinct()))
  }

  // Three queries (kmeans summary, semantic dedup, diversity sample) derive
  // from the same 2-round Lloyd assignment; memoize it MATERIALIZED per
  // sfDir (n rows × (id, 64-dim v, cid, d2) — compact) so the Lloyd jobs
  // and their driver-side centroid collects run once, not per query.
  private val kmeansAssigned = memos("kmeansAssigned",
    "e_cluster_sample", "e_crossmodal_align", "e_embed_outliers",
    "e_embedding_drift", "e_kmeans", "e_kmeans_silhouette", "e_knn_accuracy",
    "e_semantic_dedup") {
    (s, d) => Dedup.materializeAndRelease(
      graft.similarity.KMeans.assignments(Tables.embeddings(s, d), "vec_id",
        "embedding", isInit = col("vec_id") % 50 === 1, iterations = 2))
  }

  // Two queries (per-doc predictions, confusion matrix) share the same
  // train-on-the-rest NB scoring of the held-out slice; memoize the
  // compact scored table (≤ |eval docs| rows × 4 cols) per sfDir.
  // The trained model itself is memoized separately: driver-side arrays
  // (classes × NbBuckets longs — trivial memory, nothing persisted), so
  // the PR-curve query can re-score per class without re-training.
  private val nbModel = memos("nbModel", "nbScoreAll", "nbScored") {
    (s, d) => graft.functions.NaiveBayes.train(
      Tables.documents(s, d), "doc_id", "text", "lang",
      isTrain = !(col("doc_id") % 3 === 0), buckets = NbBuckets)
  }

  // Three queries (conformal coverage, label errors, PR curve) derive
  // from the same per-(doc, class) score table; memoize it MATERIALIZED
  // (|eval docs| × |classes| rows × 4 cols — compact) so the scoring
  // subplan runs once, not once per downstream pass (GroupQuantileCut
  // alone reads its input twice).
  private val nbScoreAll = memos("nbScoreAll",
    "e_calibration_ece", "e_conformal_coverage", "e_label_errors",
    "e_nb_pr_curve") {
    (s, d) => Dedup.materializeAndRelease(
      graft.functions.NaiveBayes.scoreAll(
        Tables.documents(s, d).filter(col("doc_id") % 3 === 0),
        nbModel(s, d), "doc_id", "text", keep = Seq("lang")))
  }

  private val nbScored = memos("nbScored",
    "e_classifier_kappa", "e_nb_classify", "e_nb_confusion") {
    (s, d) => Dedup.materializeAndRelease(
      graft.functions.NaiveBayes.predict(
        Tables.documents(s, d).filter(col("doc_id") % 3 === 0),
        nbModel(s, d), "doc_id", "text",
        predCol = "pred_lang", keep = Seq("lang")))
  }

  // ---------------- Spark side ----------------

  def eDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")
      .orderBy("content_hash")

  def eDedupMinhash(s: SparkSession, d: String): DataFrame =
    minhashPairs(s, d)
      .orderBy("doc_a", "doc_b")

  /** The flagship MinHash-LSH near-dup pairs under the UNICODE tokenizer
    * — [[eDedupMinhash]] with `Dedup.shingleBasesUnicode` as the shingle
    * base. On this ASCII corpus the two tokenizations agree by design
    * (NFKC identity, `[\p{L}\p{N}]+` runs = space-separated words); on a
    * CJK or punctuation-glued corpus only THIS form produces usable
    * signatures (UnicodeDedupSpec proves the divergence end-to-end).
    * Identical scale shape: the tokenizer swap is per-row scan work. */
  def eDedupUnicode(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidatesFromBases(docShingleBases(s, d),
        k = K, bandRows = BandRows)
      .orderBy("doc_a", "doc_b")

  /** Benchmark decontamination under the UNICODE tokenizer — the
    * `e_decontam` contract (held-out id % 97 == 0 slice, shared distinct
    * 3-shingles) over the unicode shingle base, so contamination checks
    * survive corpora where whitespace splitting would hide overlaps
    * behind punctuation or missing spaces. */
  def eDecontamUnicode(s: SparkSession, d: String): DataFrame = {
    val bases = docShingleBases(s, d)
      .select(col("doc_id"), col("b1").as("sh"))
    graft.functions.CorpusFilters.decontaminateFromShingles(
        bases.filter(col("doc_id") % 97 =!= 0),
        bases.filter(col("doc_id") % 97 === 0).select(col("sh")).distinct())
      .orderBy("doc_id")
  }

  /** IVF cell-balance report — the ops meter an inverted-file deployment
    * reads before trusting its latency envelope: per-cell occupancy and
    * corpus share under the production cell assignment (the same native
    * in-row argmax every IVF query uses). A skewed cell list means one
    * probe pays a disproportionate scoring bill; the fix (re-train
    * centroids, split hot cells) starts from this table. One narrow
    * corpus scan + a cells-bounded aggregation; the share window ranges
    * over ≤ k rows. */
  def eIvfBalance(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cells = graft.similarity.CellAssignment.collect(
      emb, "vec_id", "embedding", col("vec_id") % 50 === 1)
    val toDouble = transform(col("embedding"), x => x.cast("double"))
    val counts = emb
      .select(graft.similarity.CellAssignment.assignedCell(cells, toDouble)
        .getField("cid").as("cell_id"))
      .groupBy(col("cell_id")).agg(count(lit(1)).as("n_vecs"))
    counts
      .withColumn("share", round(col("n_vecs").cast("double") /
        // cells-bounded frame (≤ IvfCells rows): the constant partition
        // key keeps the same single-partition execution while not
        // tripping WindowExec's unpartitioned-window warning, which is
        // about unbounded inputs
        sum(col("n_vecs")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)), 6))
      .orderBy("cell_id")
  }

  /** MinHash estimator calibration — the accuracy meter for every
    * signature-size/band/threshold knob (the LSH analogue of
    * e_ann_recall): per estimate level, how far the k-slot signature
    * estimate sits from TRUE shingle-set Jaccard over the candidate
    * pairs. True Jaccard comes from the shared shingle memo UNCAPPED
    * (ground truth, not the df-capped operational path); a band-collision
    * pair with zero shared shingles scores true 0. Work ∝ candidate
    * pairs × shingles-per-doc — the pair set LSH already bounded. */
  def eMinhashCalibration(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashPairs(s, d)
    val sh = docShingleBases(s, d).select(col("doc_id"), col("b1").as("sh"))
    val cnts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs.select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val ni = coalesce(col("n_inter"), lit(0L))
    val tr = pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cnts.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnts.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("tj", ni.cast("double") / (col("na") + col("nb") - ni))
    tr.groupBy(col("est_jaccard"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("tj")), 6).as("mean_true"),
        round(avg(abs(col("est_jaccard") - col("tj"))), 6).as("mean_abs_err"))
      .orderBy("est_jaccard")
  }

  /** Duplication authority: 3-iteration PageRank over the symmetrized
    * high-confidence near-dup graph — CC says which docs form a
    * duplication neighborhood, this says which doc sits at its center
    * (the natural canonical-representative choice). Rides the memoized
    * pair table, name-ordered before its release point. */
  def eDedupAuthority(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    graft.operators.PageRank(edges, iterations = 3)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy("doc_id")
  }

  /** Duplication-graph density: per-node triangle count and local
    * clustering coefficient over the high-confidence near-dup graph —
    * cliquish neighborhoods are template/mirror farms (delete the whole
    * cluster), low-coefficient chains are paraphrase drift (keep one per
    * hop). Degree-ordered wedge orientation bounds out-degree at O(√m),
    * so the wedge join never goes quadratic on hub docs. Rides the
    * memoized pair table, name-ordered before its release point. */
  def eDupTriangles(s: SparkSession, d: String): DataFrame =
    graft.operators.Triangles.perNode(
        minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b")))
      .orderBy("doc_id")

  /** The k-core of the near-dup graph (k = [[KcoreK]]): docs that keep
    * degree ≥ k after everything sparser is recursively peeled — the
    * density filter separating mirror farms from incidental matches.
    * Bounded peel rounds; rides the memoized pair table. */
  def eDupKcore(s: SparkSession, d: String): DataFrame =
    graft.operators.KCore.coreMembers(
        minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b")),
        k = KcoreK, maxRounds = KcoreRounds)
      .orderBy("doc_id")

  /** Majority-vote communities of the near-dup graph ([[LpaRounds]]
    * synchronous rounds, min-label ties): the density-aware refinement of
    * `e_connected_components` — paraphrase chains that CC glues into one
    * blob split at their sparse articulation points, mirror farms stay
    * together. Joined back to community sizes (community-keyed agg,
    * community count ≤ node count). Rides the memoized pair table,
    * name-ordered before its `e_minhash_calibration` release point. */
  def eLabelPropagation(s: SparkSession, d: String): DataFrame = {
    val labels = graft.operators.LabelPropagation.communities(
      minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b")),
      rounds = LpaRounds)
    val sizes = labels.groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"))
    labels.join(sizes, Seq("community"))
      .select(col("doc_id"), col("community"), col("n_members"))
      .orderBy("doc_id")
  }

  /** Quality-aware dedup survivor selection: per near-dup cluster, the
    * member a curator actually wants to KEEP — highest quality score,
    * min-id tie-break — instead of the arbitrary min-id convention the
    * plain apply uses. One corpus-grain equi-join + a max_by-style struct
    * aggregation (map-side combined, no window); reports multi-member
    * clusters only (singletons have nothing to choose). Rides the
    * nearDupClusters memo, name-ordered before its release point. */
  def eDedupBest(s: SparkSession, d: String): DataFrame = {
    val q = Tables.documents(s, d).select(col("doc_id"),
      graft.functions.TextAnalysis.qualityScore(col("text")).as("quality"))
    nearDupClusters(s, d).join(q, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nd"))).as("b"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_id"), col("n_members"),
        (-col("b.nd")).as("best_doc"), col("b.q").as("best_quality"))
      .orderBy("cluster_id")
  }

  /** MDM-style survivorship (golden record) per near-dup cluster: where
    * `e_dedup_best` picks one surviving ROW, this merges the cluster
    * into one canonical record FIELD BY FIELD — best-quality doc id
    * (survivor rule), majority language (mode, smallest on ties),
    * longest text (completeness rule), provenance width (distinct
    * sources). Two cluster-keyed aggregations (the language mode is a
    * count + min-struct argmax, never a window); multi-member clusters
    * only. Rides the nearDupClusters memo, name-ordered before its
    * release point. */
  def eGoldenRecord(s: SparkSession, d: String): DataFrame = {
    val meta = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      col("source"), col("n_chars"),
      graft.functions.TextAnalysis.qualityScore(col("text")).as("quality"))
    val m = nearDupClusters(s, d).join(meta, Seq("doc_id"))
    val langMode = m.groupBy(col("cluster_id"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cluster_id"))
      .agg(min(struct((-col("c")).as("nc"), col("lang").as("l"))).as("b"))
      .select(col("cluster_id"), col("b.l").as("lang_majority"))
    m.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nd"))).as("g"),
        max(col("n_chars")).as("max_n_chars"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_members") >= 2)
      .join(langMode, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"),
        (-col("g.nd")).as("golden_doc"), col("lang_majority"),
        col("max_n_chars"), col("n_sources"))
      .orderBy("cluster_id")
  }

  /** Per-doc novelty / memorization-risk score: the fraction of a doc's
    * distinct shingles that appear in >= 3 docs corpus-wide — low novelty
    * means the doc is mostly text the model will see many times anyway
    * (boilerplate, mirrored passages), the doc-grain signal between
    * exact-dup (all shingles shared) and decontamination (shared with one
    * specific set). Rides the SHARED shingle memo — one more consumer of
    * the tokenize-once artifact, name-ordered before its release point. */
  def eDocNovelty(s: SparkSession, d: String): DataFrame = {
    val bases = docShingleBases(s, d).select(col("doc_id"), col("b1"))
    val dfc = bases.groupBy(col("b1")).agg(count(lit(1)).as("df"))
    bases.join(dfc, Seq("b1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") >= 3, 1)).as("n_common"),
        round(lit(1.0) - count(when(col("df") >= 3, 1)) /
          count(lit(1)).cast("double"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Cross-source duplication report: how many high-confidence near-dup
    * pairs join each (source, source) combination — the provenance
    * diagnostic that shows which sources mirror each other (within-source
    * pairs on the diagonal). Pure composition over the memoized pair
    * table; sorts before e_dedup_minhash_lsh, so the shared memo is
    * still resident under the bench's release-after-last-consumer walk. */
  def eCrossSourceDup(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Daily-ingest near-dup maintenance: docs ending in 0 arrive as today's
    * batch against a standing (sigs, bands) index of the rest; output =
    * the NEW candidate pairs only (within-batch ∪ batch-vs-index) — the
    * old corpus is never re-shingled and old-vs-old never re-pairs. The
    * oracle is the full-batch minhash SQL restricted to pairs touching
    * the increment, which the index-probe path must equal exactly. */
  def eDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val fresh = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
    Dedup.minhashIncrement(fresh, "doc_id", "text",
        Some(dedupIncSigs(s, d)), Some(dedupIncBands(s, d)), K, W, BandRows)
      .newPairs
      .orderBy("doc_a", "doc_b")
  }

  // "yesterday's index" of e_dedup_incremental: compact materialized
  // signatures + bands of the non-increment docs — what a deployment
  // persists between ingests
  private val dedupIncSigs = memos("dedupIncSigs",
    "e_dedup_incremental", "dedupIncBands") {
    (s, d) => Dedup.materializeAndRelease(Dedup.minhashSignatures(
      Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", K, W))
  }
  private val dedupIncBands = memos("dedupIncBands", "e_dedup_incremental") {
    (s, d) => Dedup.materializeAndRelease(
      Dedup.lshBands(dedupIncSigs(s, d), K, BandRows))
  }

  // Three queries (fingerprint listing, single-table pairs, multi-table
  // pairs) read the same SimHash fingerprints; memoize the compact
  // (doc_id, simhash, sh_long) table materialized per sfDir — the token
  // explode + per-bit vote aggregation runs once.
  private val simhashFingerprints = memos("simhashFingerprints",
    "e_dedup_simhash", "simhashPairs", "simhashMultiPairs") {
    (s, d) => Dedup.materializeAndRelease(
      Dedup.fingerprints(Tables.documents(s, d), "doc_id", "text", SimBits))
  }

  def eDedupSimhash(s: SparkSession, d: String): DataFrame =
    simhashFingerprints(s, d)
      .select(col("doc_id"), col("simhash"))
      .orderBy("doc_id")

  // SimHash candidate pairs (hamming ≤ 3): e_edit_verify, e_jaro_verify,
  // e_simhash_pairs and e_verify_sweep read the SAME banded pair table —
  // memoized so the bucket self-join runs once, and RELEASED after its
  // last consumer (an untracked localCheckpoint here measurably inflated
  // the later lm-family queries via storage/GC pressure — the round-6
  // interference mode).

  /** Prefix width SIZED FROM THE MEASURED CORPUS (round 13:
    * `Dedup.simhashPrefixBitsFor` at target occupancy 64) — the fixed
    * 8-bit width was n²/2^prefix at scale (the full-suite 10× probe's
    * 138× row); sizing keeps expected occupancy, and with it both pair
    * work per doc and per-table recall, constant as the corpus grows.
    * The one count() is against the cached documents table; the oracle
    * mirrors the exact integer rule as a scalar subquery. */
  private def simPrefixBits(s: SparkSession, d: String): Int =
    Dedup.simhashPrefixBitsFor(
      Tables.documents(s, d).count(), targetOccupancy = 64, bits = SimBits)

  private val simhashPairsMemo = memos("simhashPairs",
    "e_dup_explain", "e_edit_verify", "e_jaro_verify", "e_simhash_pairs",
    "e_verify_sweep") {
    (s, d) => Dedup.simhashPairsFromFingerprints(simhashFingerprints(s, d),
      simPrefixBits(s, d), maxHamming = 3)
  }

  def eSimhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsMemo(s, d)
      .orderBy("doc_a", "doc_b")

  /** Multi-table SimHash candidates: 2 rotated prefix tables — recall and
    * bucket size tuned independently (vs the single-table e_simhash_pairs).
    * Its materialized pair table is a memo so the checkpoint blocks never
    * outlive the query (see [[simhashPairsMemo]]'s interference note). */
  def eSimhashMultitable(s: SparkSession, d: String): DataFrame =
    simhashMultiPairs(s, d).orderBy("doc_a", "doc_b")

  private val simhashMultiPairs = memos("simhashMultiPairs",
    "e_simhash_multitable") {
    (s, d) => Dedup.simhashPairsMultiTableFromFingerprints(
      simhashFingerprints(s, d), SimBits, simPrefixBits(s, d),
      maxHamming = 3, nTables = SimTables)
  }

  def eNgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardFromShingles(
        docShingleBases(s, d).select(col("doc_id"), col("b1").as("sh")),
        minJaccard = 0.1, maxDf = JaccardMaxDf)
      .orderBy("doc_a", "doc_b")

  /** Directional containment (|A∩B|/|A|, |A∩B|/|B|) over the SAME shared
    * shingle memo — the doc-in-doc / excerpt detector Jaccard misses.
    * Name-ordered before the shingleBases release point
    * (e_ngram_jaccard). */
  def eContainmentDup(s: SparkSession, d: String): DataFrame =
    Dedup.containmentFromShingles(
        docShingleBases(s, d).select(col("doc_id"), col("b1").as("sh")),
        minContainment = ContainMin, maxDf = JaccardMaxDf)
      .orderBy("doc_a", "doc_b")

  /** Edit-distance verification of SimHash candidate pairs — the second
    * stage of the canonical two-phase LSH dedup: cheap banded candidates
    * first (hamming ≤ 3 on the 16-bit fingerprint), then the expensive
    * exact measure on ONLY those pairs. Levenshtein runs on a bounded
    * [[EditPrefix]]-char prefix, so per-pair verification is a constant
    * O(L²) regardless of document length, and the pair set itself is
    * banded (work ∝ bucket occupancy, never n²); the text join-back is two
    * doc_id equi-joins against a two-column projection of the corpus.
    * Rides the simhashFingerprints memo, name-ordered before its
    * e_simhash_pairs release point. */
  def eEditVerify(s: SparkSession, d: String): DataFrame = {
    val pairs = simhashPairsMemo(s, d)
    val pfx = Tables.documents(s, d)
      .select(col("doc_id"), substring(trim(col("text")), 1, EditPrefix).as("pfx"))
    // unrounded similarity drives the verdict in BOTH engines; only the
    // reported column is rounded
    val sim = lit(1.0) - col("edit_dist") /
      greatest(length(col("pa")), length(col("pb"))).cast("double")
    pairs
      .join(pfx.select(col("doc_id").as("doc_a"), col("pfx").as("pa")), Seq("doc_a"))
      .join(pfx.select(col("doc_id").as("doc_b"), col("pfx").as("pb")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("pa"), col("pb")).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("edit_dist"),
        round(sim, 6).as("edit_sim"),
        (sim >= EditSimMin).as("verified"))
      .orderBy("doc_a", "doc_b")
  }

  /** IDF-weighted set cosine between documents — the weighted upgrade of
    * plain shingle Jaccard: a pair sharing RARE shingles scores far above
    * a pair sharing common ones, which is exactly the signal set
    * resemblance throws away (sparse-vector cosine with binary tf and
    * idf² edge weights). Rides the SAME shared shingle memo and df-cap
    * discipline as the Jaccard/containment path: the shingle equi-join
    * fans out ≤ maxDf partners per shingle instance, so pair work stays
    * linear at any corpus size; the corpus-size scalar crosses in as a
    * broadcast one-row frame. */
  def eIdfCosine(s: SparkSession, d: String): DataFrame = {
    // norms and pair dots both read the memo's compact table, and pairs
    // expand IN-ROW from the bounded member arrays exactly like
    // e_source_jaccard: no shingle self-join
    val bySh = idfCosineSets(s, d)
    val nrm = bySh.select(explode(col("docs")).as("doc_id"), col("w2"))
      .groupBy("doc_id").agg(sum(col("w2")).as("n2"))
    val pairList = flatten(transform(col("docs"), (x, i) =>
      transform(slice(col("docs"), i + lit(2), size(col("docs"))),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    val dots = bySh.select(explode(pairList).as("p"), col("w2"))
      .select(col("p.doc_a"), col("p.doc_b"), col("w2"))
      .groupBy("doc_a", "doc_b").agg(sum(col("w2")).as("dot"))
    val cos = col("dot") / sqrt(col("na") * col("nb"))
    dots
      .join(nrm.select(col("doc_id").as("doc_a"), col("n2").as("na")), Seq("doc_a"))
      .join(nrm.select(col("doc_id").as("doc_b"), col("n2").as("nb")), Seq("doc_b"))
      .filter(cos >= IdfCosMin)
      .select(col("doc_a"), col("doc_b"), round(cos, 6).as("idf_cosine"))
      .orderBy("doc_a", "doc_b")
  }

  // ONE aggregation to (shingle, sorted member list ≤ maxDf, idf²)
  private val idfCosineSets = memos("idfCosineSets", "e_idf_cosine") { (s, d) =>
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    Dedup.materializeAndRelease(
      docShingleBases(s, d).select(col("doc_id"), col("b1").as("sh"))
        .groupBy("sh")
        .agg(count(lit(1)).as("df"), sort_array(collect_set(col("doc_id"))).as("docs"))
        .filter(col("df") <= JaccardMaxDf)
        .crossJoin(broadcast(nDocs))
        .select(col("sh"), col("docs"),
          pow(log(col("n_docs").cast("double") / col("df")), 2).as("w2")))
  }

  /** Jaro-Winkler verification of the SAME SimHash candidate pairs as
    * [[eEditVerify]] — the record-linkage similarity (Winkler 1990) where
    * plain edit distance over-penalizes transpositions and under-weights
    * shared prefixes. Runs the native codegen
    * [[graft.plans.JaroWinkler]] expression (Spark ships no Jaro family;
    * DuckDB's built-in `jaro_winkler_similarity` is the oracle) on the
    * bounded prefix, so the cost shape is identical to the edit pass:
    * O(L²) per pair over a banded pair set. Rides the shared pair memo,
    * name-ordered before its e_simhash_pairs release point. */
  def eJaroVerify(s: SparkSession, d: String): DataFrame = {
    val pfx = Tables.documents(s, d)
      .select(col("doc_id"), substring(trim(col("text")), 1, EditPrefix).as("pfx"))
    val jw = graft.plans.TextExpressions.jaroWinkler(col("pa"), col("pb"))
    simhashPairsMemo(s, d)
      .join(pfx.select(col("doc_id").as("doc_a"), col("pfx").as("pa")), Seq("doc_a"))
      .join(pfx.select(col("doc_id").as("doc_b"), col("pfx").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        round(jw, 6).as("jw_sim"),
        (jw >= JaroMin).as("verified"))
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate explanation: for every VERIFIED near-dup pair, the
    * structural diff a curator actually reads — how many chars the two
    * prefixes share at the front and back, and how wide each side's
    * differing middle is (0/0 middles = pure truncation; small symmetric
    * middles = token-level edit; both large = the verifier is too lax).
    * Runs the native codegen [[graft.plans.CommonPrefixLen]] forward and
    * over reversed strings (suffix = prefix of the reversals, capped so
    * prefix+suffix never overlap); all in-row over the shared pair memo,
    * with the verdict as a FLAG, not a filter — a similarity filter over
    * a pair join is pushed into the join CONDITION
    * (PushPredicateThroughJoin), where the Levenshtein leaves
    * whole-stage codegen and was measured ~100× slower than the same
    * expression in a codegen'd projection (76 s vs 0.7 s at sf0.1). */
  def eDupExplain(s: SparkSession, d: String): DataFrame = {
    val pfx = Tables.documents(s, d)
      .select(col("doc_id"), substring(trim(col("text")), 1, EditPrefix).as("pfx"))
    val sim = lit(1.0) - levenshtein(col("pa"), col("pb")) /
      greatest(length(col("pa")), length(col("pb"))).cast("double")
    val p = graft.plans.TextExpressions.commonPrefixLen(col("pa"), col("pb"))
      .cast("long")
    val sRaw = graft.plans.TextExpressions.commonPrefixLen(
      reverse(col("pa")), reverse(col("pb"))).cast("long")
    val minLen = least(length(col("pa")), length(col("pb"))).cast("long")
    simhashPairsMemo(s, d)
      .join(pfx.select(col("doc_id").as("doc_a"), col("pfx").as("pa")), Seq("doc_a"))
      .join(pfx.select(col("doc_id").as("doc_b"), col("pfx").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (sim >= EditSimMin).as("verified"),
        p.as("prefix_len"),
        least(sRaw, minLen - p).as("suffix_len"),
        (length(col("pa")).cast("long") - p - least(sRaw, minLen - p))
          .as("mid_a"),
        (length(col("pb")).cast("long") - p - least(sRaw, minLen - p))
          .as("mid_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** Verification sweep: per fingerprint hamming distance, how many
    * candidates arrive and what fraction the exact measures confirm —
    * the tuning table for the banded stage's maxHamming knob (a distance
    * bucket whose verify rate is ~0 is wasted verification budget; one
    * near 1 risks recall if cut). Mean similarity aggregates as exact
    * per-row ·10⁶ integers (the e_source_scorecard discipline), so the
    * sum is FP-order-independent across engines. Same cost shape as the
    * verify stages it sweeps; rides the shared pair memo. */
  def eVerifySweep(s: SparkSession, d: String): DataFrame = {
    val pfx = Tables.documents(s, d)
      .select(col("doc_id"), substring(trim(col("text")), 1, EditPrefix).as("pfx"))
    val editSim = lit(1.0) - levenshtein(col("pa"), col("pb")) /
      greatest(length(col("pa")), length(col("pb"))).cast("double")
    val jw = graft.plans.TextExpressions.jaroWinkler(col("pa"), col("pb"))
    simhashPairsMemo(s, d)
      .join(pfx.select(col("doc_id").as("doc_a"), col("pfx").as("pa")), Seq("doc_a"))
      .join(pfx.select(col("doc_id").as("doc_b"), col("pfx").as("pb")), Seq("doc_b"))
      .select(col("hamming"),
        round(editSim * 1000000.0, 0).cast("long").as("sim_micro"),
        (editSim >= EditSimMin).cast("long").as("ev"),
        (jw >= JaroMin).cast("long").as("jv"))
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("sim_micro")).as("sum_micro"),
        sum(col("ev")).as("n_edit"), sum(col("jv")).as("n_jw"))
      .select(col("hamming"), col("n_pairs"),
        round(col("sum_micro") / (col("n_pairs") * 1000000.0), 6)
          .as("mean_edit_sim"),
        round(col("n_edit") / col("n_pairs").cast("double"), 6)
          .as("edit_verify_rate"),
        round(col("n_jw") / col("n_pairs").cast("double"), 6)
          .as("jw_verify_rate"))
      .orderBy("hamming")
  }

  /** Sorted-neighborhood blocking dedup (Hernández & Stolfo's merge/purge):
    * a blocking key buckets the corpus, rows sort within each block by a
    * normalized prefix, and only ADJACENT rows compare — candidate work is
    * ∝ corpus, not n², and each comparison is a bounded-prefix Levenshtein.
    * The complementary blocking family to hash-bucket LSH: near-dups that
    * differ late in the text sort adjacently even when their fingerprints
    * land in different LSH buckets. Parallelism = #blocks (the per-block
    * window sorts block-sized slices); at 100 TB the block key must keep
    * occupancy bounded — widen [[SnBlockChars]] (or compose with a length
    * bucket) exactly as merge/purge runs multiple passes with different
    * keys. */
  def eSortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, d).select(col("doc_id"),
      substring(trim(col("text")), 1, SnPrefix).as("pfx"),
      substring(trim(col("text")), 1, SnBlockChars).as("block"))
    val w = Window.partitionBy("block").orderBy(col("pfx"), col("doc_id"))
    base
      .select(col("block"), col("doc_id"), col("pfx"),
        lag(col("doc_id"), 1).over(w).as("prev_id"),
        lag(col("pfx"), 1).over(w).as("prev_pfx"))
      .filter(col("prev_id").isNotNull)
      .withColumn("edit_dist", levenshtein(col("pfx"), col("prev_pfx")).cast("long"))
      .filter(col("edit_dist") <= SnMaxDist)
      .select(least(col("prev_id"), col("doc_id")).as("doc_a"),
        greatest(col("prev_id"), col("doc_id")).as("doc_b"),
        col("block"), col("edit_dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** Positional posting-list phrase search — the IR primitive behind exact
    * phrase retrieval: explode (doc_id, pos, w-gram), pick the corpus's
    * most frequent phrase (count desc, lexicographic tie-break — fully
    * deterministic), then read its postings back as per-document hit count
    * and first position. The phrase-frequency pass is a map-side-combined
    * word-count; the postings read is a broadcast one-row equi-join — no
    * self-join on positions is needed because the w-gram IS the
    * position-concatenated phrase. */
  def ePhraseSearch(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextAnalysis.unicodeTokens(col("text"))
    val psh = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(Dedup.shingles(toks, W)).as(Seq("pos", "ph")))
    val top = psh.groupBy(col("ph")).agg(count(lit(1)).as("n_total"))
      .orderBy(col("n_total").desc, col("ph").asc).limit(1)
    psh.join(broadcast(top), Seq("ph"))
      .groupBy(col("ph"), col("n_total"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).cast("long").as("first_pos"))
      .select(col("ph").as("phrase"), col("n_total"), col("doc_id"),
        col("n_hits"), col("first_pos"))
      .orderBy("doc_id")
  }

  // ONE shuffle builds the per-shingle sorted source list (collect_set
  // dedups, so no separate distinct pass); the ≤ #sources arrays are the
  // whole downstream input, so the checkpoint holds #shingles small rows
  // and every reader rereads that, not the corpus-grain join. (A further
  // collapse-by-identical-set pass was measured SLOWER here: grouping on
  // an array<string> key falls out of whole-stage codegen and doubled the
  // wall time at sf0.1.)
  private val sourceMembershipLists = memos("sourceJaccardSets",
    "e_bottomk_resemblance", "e_source_jaccard") {
    (s, d) => Dedup.materializeAndRelease(
      docShingleBases(s, d).select(col("doc_id"), col("b1").as("sh"))
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy("sh")
        .agg(sort_array(collect_set(col("source"))).as("srcs")))
  }

  /** Corpus-level source overlap: exact shingle-set Jaccard between every
    * pair of sources — the dataset-curation report that tells you which
    * feeds duplicate each other BEFORE document-grain dedup runs. Rides
    * the shared shingleBases memo. Scale shape: per-source distinct is
    * one shuffle on (source, shingle); the intersection is NOT a
    * self-join — each shingle's ≤ #sources member list (a
    * constant-bounded array) expands its source pairs IN-ROW, so the
    * upstream runs once and nothing fans out past shingles × #sources²;
    * the result is #source-pairs rows — never doc-grain. */
  def eSourceJaccard(s: SparkSession, d: String): DataFrame = {
    val bySh = sourceMembershipLists(s, d)
    // per-source distinct-shingle counts, read off the membership lists
    val cnts = bySh.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    // pairs expanded in-row via an indexed transform over the tail slices
    val pairList = flatten(transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
        y => struct(x.as("source_a"), y.as("source_b")))))
    val inter = bySh
      .select(explode(pairList).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(cnts.select(col("source").as("source_a"), col("n").as("na")), Seq("source_a"))
      .join(cnts.select(col("source").as("source_b"), col("n").as("nb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_inter"),
        round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Bottom-k resemblance sketch with an error certificate (Broder 1997):
    * each source's k smallest shingle hashes ARE a mergeable sketch of
    * its shingle set, and for any source pair the fraction of the
    * union-sketch's k smallest hashes present in BOTH sketches estimates
    * their Jaccard — the streaming-friendly form of [[eSourceJaccard]]'s
    * exact report (sketches are k rows per source FOREVER; merging is a
    * sorted k-merge). Rides the same tracked membership table; the
    * bottom-k cut runs on [[graft.operators.GroupedTopK]]'s bounded
    * buffer (exchange ≤ k rows per source per map partition); everything
    * after the sketches is sources²-bounded, and the per-pair union
    * ranking windows over ≤ 2k sketch rows. Grading follows the HLL
    * certificate pattern: the estimate ships NEXT TO the exact value and
    * a |est − exact| ≤ 3/√k boolean both engines compute. */
  def eBottomkResemblance(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySh = sourceMembershipLists(s, d)
    val srcSh = bySh.select(explode(col("srcs")).as("source"), col("sh"))
      .withColumn("h", col("sh") % BkMod)
    // bottom-k per source: score = −h (desc ⇒ h asc), sh breaks fold ties
    val sk = graft.operators.GroupedTopK.topKPerKey(
        srcSh.withColumn("neg_h", -col("h")), "source", "neg_h", "sh", BkK)
      .select(col("source"), (-col("score")).cast("long").as("h"))
    // exact pairwise Jaccard — the same in-row pair expansion as
    // eSourceJaccard, off the same table
    val cnts = bySh.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val pairList = flatten(transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
        y => struct(x.as("source_a"), y.as("source_b")))))
    val exact = bySh.select(explode(pairList).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_inter"))
      .join(cnts.select(col("source").as("source_a"), col("n").as("na")), Seq("source_a"))
      .join(cnts.select(col("source").as("source_b"), col("n").as("nb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        (col("n_inter") / (col("na") + col("nb") - col("n_inter"))).as("exact"))
    // union-sketch estimate per pair: rank the union's hashes, keep the
    // k smallest, estimate = |in both| / min(k, union size)
    val srcList = sk.select(col("source")).distinct()
    val pairs = srcList.select(col("source").as("source_a"))
      .crossJoin(srcList.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    // each pair explodes into its two member rows so the sketch attach is
    // a HASH equi-join on the source — an OR-condition here planned a
    // broadcast nested loop, quadratic in sources (measured 16× on the
    // 10× probe, whose copies multiply the source count)
    val pairRows = broadcast(pairs.select(col("source_a"), col("source_b"),
        explode(array(col("source_a"), col("source_b"))).as("s")))
      .join(sk.select(col("source").as("s"), col("h")), Seq("s"))
    val grouped = pairRows.groupBy("source_a", "source_b", "h")
      .agg(countDistinct(col("s")).as("ns"))
    val w = Window.partitionBy("source_a", "source_b").orderBy(col("h"))
    val est = grouped
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= BkK)
      .groupBy("source_a", "source_b")
      .agg(sum(when(col("ns") === 2, 1L).otherwise(0L)).as("n_both"),
        count(lit(1)).as("n_top"))
      .select(col("source_a"), col("source_b"),
        (col("n_both") / col("n_top").cast("double")).as("est"))
    // left join: a pair with an empty true intersection has no exact row
    val ex = coalesce(col("exact"), lit(0.0))
    est.join(exact, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        round(col("est"), 6).as("est_jaccard"),
        round(ex, 6).as("exact_jaccard"),
        (abs(col("est") - ex) <= lit(3.0 / math.sqrt(BkK.toDouble)))
          .as("within_bound"))
      .orderBy("source_a", "source_b")
  }

  /** Matryoshka prefix-truncation recall curve: recall@3 of brute-force
    * cosine over the FIRST m dims (m ∈ [[MatryoshkaDims]]) against the
    * full-dim ground truth — the eval that says how few prefix dims a
    * Matryoshka-style embedding retrieves with before committing to the
    * d/m bandwidth cut on every downstream exchange (the truncation
    * analogue of e_rp_recall's random projection). Eval-shaped cost:
    * ground truth and every prefix pass are bounded by the query slice,
    * exactly like e_ann_recall. */
  def eMatryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val isQ = col("vec_id") % 50 === 0 && col("vec_id") < EvalQueryCut
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", isQ, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val perDim = MatryoshkaDims.map { m =>
      val pref = emb.select(col("vec_id"), slice(col("embedding"), 1, m).as("pv"))
      val approx = Similarity.bruteForceTopK(pref, "vec_id", "pv", isQ, k = 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(col("__hit")).as("n_hits"),
          round(count(col("__hit")) / count(lit(1)).cast("double"), 6).as("recall"))
        .select(lit(m.toLong).as("prefix_dims"), col("n_hits"), col("recall"))
    }
    perDim.reduce(_ unionAll _).orderBy("prefix_dims")
  }

  /** Distinct-n diversity per source: for n ∈ {1,2,3}, total n-gram
    * instances, distinct n-grams, and the distinct ratio — the standard
    * corpus-diversity report (a repetitive feed shows a collapsing
    * distinct-2/3 ratio long before doc-grain dedup fires). One union of
    * three in-row explodes and one aggregation; the exact countDistinct
    * is the sf-truth form — at 100 TB the same query runs with
    * approx_count_distinct and the certificate pattern the HLL queries
    * use. */
  def eDistinctN(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextAnalysis.unicodeTokens(col("text"))
    val grams = Seq(1, 2, 3).map { n =>
      Tables.documents(s, d).select(col("source"),
        lit(n.toLong).as("n"),
        explode(Dedup.shingles(toks, n)).as("g"))
    }.reduce(_ unionAll _)
    grams.groupBy("source", "n")
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("g")).as("n_distinct"))
      .select(col("source"), col("n"), col("n_grams"), col("n_distinct"),
        round(col("n_distinct") / col("n_grams").cast("double"), 6)
          .as("distinct_ratio"))
      .orderBy("source", "n")
  }

  /** Zipf slope of the corpus token-frequency distribution: OLS fit of
    * ln(freq) on ln(rank) over the top [[ZipfTopN]] tokens — natural text
    * sits near −1; a synthetic or templated feed shows up immediately as
    * a flat (or cliff-shaped) slope. The frequency pass is a map-side-
    * combined word count; the rank window runs over ≤ ZipfTopN rows
    * post-limit (bounded by construction, not by data volume), and the
    * fit itself uses explicit Σx/Σy/Σxy/Σxx sums so both engines evaluate
    * the IDENTICAL formula. */
  def eZipfSlope(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(s, d)
      .select(explode(graft.functions.TextAnalysis.unicodeTokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token")).limit(ZipfTopN)
    // global window over the post-limit frame: ≤ ZipfTopN rows by
    // construction, so the single-partition sort is constant-sized
    val w = Window.orderBy(desc("freq"), asc("token"))
    val xy = top.withColumn("r", row_number().over(w))
      .select(log(col("r").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    val sums = xy.agg(count(lit(1)).as("n_top"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n_top") * col("sxy") - col("sx") * col("sy")) /
      (col("n_top") * col("sxx") - col("sx") * col("sx"))
    sums.select(col("n_top"),
      round(slope, 6).as("zipf_slope"),
      round((col("sy") - slope * col("sx")) / col("n_top"), 6).as("zipf_intercept"))
  }

  /** Keyword-in-context (KWIC) concordance for the corpus's top phrase —
    * the report a curator reads to decide whether a hot phrase is
    * boilerplate (identical contexts → template) or natural reuse (varied
    * contexts): every hit with [[KwicCtx]] tokens of context either side.
    * The hit set is bounded by the one phrase's posting list; contexts
    * slice IN-ROW from the token array (no positional self-join). */
  def eConcordance(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextAnalysis.unicodeTokens(col("text"))
    val docs = Tables.documents(s, d).select(col("doc_id"), toks.as("t"))
    val psh = docs
      .select(col("doc_id"), posexplode(Dedup.shingles(col("t"), W)).as(Seq("pos", "ph")))
    val top = psh.groupBy(col("ph")).agg(count(lit(1)).as("n_total"))
      .orderBy(col("n_total").desc, col("ph").asc).limit(1)
      .select(col("ph"))
    psh.join(broadcast(top), Seq("ph"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        concat_ws(" ", slice(col("t"),
          greatest(col("pos") - (KwicCtx - 1), lit(1)),
          least(col("pos"), lit(KwicCtx)))).as("left_ctx"),
        col("ph").as("phrase"),
        concat_ws(" ", slice(col("t"), col("pos") + W + 1, lit(KwicCtx)))
          .as("right_ctx"))
      .orderBy("doc_id", "pos")
  }

  /** Token dispersion (burstiness): for the [[DispTopN]] most frequent
    * tokens, the variance-to-mean ratio of the per-document count —
    * including the zero-count docs, reconstructed algebraically from
    * (Σc, Σc², N) so zeros never materialize. Poisson scatter sits at
    * VMR ≈ 1; spam/template tokens (all mass in few docs) burst far above
    * it — Church & Gale's burstiness as a curation meter. One
    * (token, doc) aggregation + a head cut; the corpus-docs total crosses
    * in as a broadcast one-row frame. */
  def eTokenDispersion(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs
      .select(col("doc_id"), explode(graft.functions.TextAnalysis.unicodeTokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
    val perTok = perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"), sum(col("c")).as("total_count"),
        sum(col("c") * col("c")).as("sumsq"))
    val mean = col("total_count") / col("n_docs").cast("double")
    val vmr = (col("sumsq") / col("n_docs") - mean * mean) / mean
    perTok.crossJoin(broadcast(nDocs))
      .select(col("token"), col("total_count"), col("df"),
        round(vmr, 6).as("vmr"))
      .orderBy(desc("total_count"), asc("token")).limit(DispTopN)
  }

  /** Consistent bottom-k sample per source: the [[BottomK]] docs with the
    * smallest salted hash per source — a deterministic sample that is
    * STABLE under corpus growth (a new doc enters only by displacing a
    * larger hash) and doubles as a bottom-k resemblance sketch of the
    * source. Runs on [[graft.operators.GroupedTopK]]'s bounded-buffer
    * Aggregator (exchange ≤ k rows per source per map partition — never a
    * per-source sort), with the hash folded to [[BottomKMod]] so the
    * buffer's double score is exact. */
  def eBottomkSample(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        (Dedup.hexHash(col("doc_id").cast("string"), "bk|") % BottomKMod).as("h"))
    graft.operators.GroupedTopK.topKPerKey(
        hashed.withColumn("neg_h", -col("h")),
        "source", "neg_h", "doc_id", BottomK)
      .select(col("source"), col("doc_id"),
        (-col("score")).cast("long").as("sample_hash"), col("rank"))
      .orderBy("source", "rank")
  }

  // Two queries (fingerprint summary, match pairs) consume the SAME
  // winnowed selection; memoize the compact (doc_id, pos, h) table per
  // sfDir. Winnowing needs POSITIONAL non-distinct shingles, so it cannot
  // ride the per-doc-distinct shingleBases memo — but its output is only
  // ~2/(window+1) of the shingle stream, so the memo is smaller than the
  // shingle table it derives from.
  private val winnowFps = memos("winnowFps",
    "e_winnow_fingerprints", "e_winnow_matches") {
    (s, d) => Dedup.materializeAndRelease(
      graft.dedup.Winnowing.fingerprints(
        Tables.documents(s, d), "doc_id", "text", W, WinnowWindow))
  }

  /** Winnowed fingerprint summary per document (Schleimer et al. 2003 —
    * the MOSS selection): count and a position-weighted checksum of the
    * selected `(pos, hash)` set. The guarantee the selection carries:
    * any copied run of ≥ window+W−1 tokens shares a fingerprint. */
  def eWinnowFingerprints(s: SparkSession, d: String): DataFrame =
    winnowFps(s, d)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum((col("pos") + 1) * (col("h") % WinnowCkMod)).as("fp_checksum"))
      .orderBy("doc_id")

  /** Cross-document winnowing matches — the MOSS report: pairs sharing
    * ≥ WinnowMinShared distinct selected hashes, df-capped like the
    * Jaccard path. Rides the winnowFps memo. */
  def eWinnowMatches(s: SparkSession, d: String): DataFrame =
    graft.dedup.Winnowing.matchesFromFingerprints(
        winnowFps(s, d), minShared = WinnowMinShared, maxDf = JaccardMaxDf)
      .orderBy("doc_a", "doc_b")

  // Two queries (suffix ranks, LCP repeats) consume the SAME prefix-
  // doubling construction; memoize the compact (doc_id, widx, srank,
  // spos) table per sfDir — already checkpointed by construction (each
  // doubling round localCheckpoints).
  private val suffixRanksMemo = memos("suffixRanks",
    "e_suffix_ranks", "saSpanPairs") {
    (s, d) => graft.operators.SuffixArray.suffixRanks(
      // initOrder 16 + 8-ary fan-out = exactly one doubling round for
      // this corpus's ~100-word docs (16 → 128)
      Tables.documents(s, d), "doc_id", "text", initOrder = 16)
  }

  /** Exact global suffix ranks (word grain, doc-bounded) — the suffix
    * ARRAY of the corpus, built by prefix-doubling in ⌈log₂ doc-words⌉
    * bounded rounds. srank ties ⇔ identical suffixes; ordering by spos
    * lists every suffix lexicographically. */
  def eSuffixRanks(s: SparkSession, d: String): DataFrame =
    suffixRanksMemo(s, d)
      .select(col("doc_id"), col("widx"), col("srank"), col("spos"))
      .orderBy("doc_id", "widx")

  // Both span reads (e_exact_contamination, e_lcp_repeats) cut their
  // report from the IDENTICAL rank-adjacent pair table — the span-string
  // build plus the adjacency equi-join is the whole cost of a read, so it
  // materializes once and each query is just a filter + TakeOrdered over
  // it. Consumes the suffixRanks memo transitively.
  // Plain persist, NOT a checkpoint: the pair table is wide (~two window
  // strings per corpus position) and consumed exactly twice, so a
  // checkpoint WRITE costs more than the one recompute it could ever
  // save; the in-memory cache serves the second read. The count fills
  // the cache inside the build, so the build ledger carries the
  // adjacency join rather than whichever consumer runs first.
  private val saSpanPairs = memos("saSpanPairs",
    "e_exact_contamination", "e_lcp_repeats") { (s, d) =>
    val pairs = graft.operators.SuffixArray.adjacentSpanPairs(
      suffixRanksMemo(s, d), Tables.documents(s, d), "doc_id", "text",
      window = SaWindow).persist()
    pairs.count()
    pairs
  }

  /** Longest repeated spans via rank-adjacent LCP over the suffix array —
    * verbatim repeated text at EVERY grain at once (the exact primitive
    * passage dedup approximates at chunk grain). Rides the shared
    * rank-adjacent pair memo. */
  def eLcpRepeats(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixArray.spansFromPairs(saSpanPairs(s, d),
      topK = SaTopK)

  /** Exact-substring contamination: the longest verbatim spans shared
    * between the held-out slice (doc_id % 97 == 0 — the same convention
    * as e_decontam) and the rest of the corpus, read off rank-adjacent
    * cross-source suffix pairs. Decontamination at ANY span length where
    * the shingle path checks one fixed width. Rides the shared
    * rank-adjacent pair memo. */
  def eExactContamination(s: SparkSession, d: String): DataFrame =
    graft.operators.SuffixArray.spansFromPairs(saSpanPairs(s, d),
      topK = SaTopK,
      pairKeep = (col("doc_a") % 97 === 0) =!= (col("doc_b") % 97 === 0))

  // Two queries (per-doc weights, ESS diagnostic) share the DSIR scoring;
  // memoize the compact scored table (|docs| rows × 3 cols) per sfDir.
  private val dsirScores = memos("dsirScores", "e_dsir_ess", "e_dsir_weights") {
    (s, d) => Dedup.materializeAndRelease(
      graft.functions.ImportanceWeights.dsirLogRatios(
        Tables.documents(s, d), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = DsirBuckets))
  }

  /** DSIR importance weights: every doc scored by how much its hashed
    * unigram+bigram distribution resembles the English slice (the target
    * set a curator would hold up as "more like this, please"). */
  def eDsirWeights(s: SparkSession, d: String): DataFrame =
    dsirScores(s, d).orderBy("doc_id")

  /** Effective sample size of the DSIR weights — the collapse detector
    * importance sampling REQUIRES before anyone trusts it: ESS =
    * (Σw)² / Σw² of w = exp(logratio − max) (the shift cancels — ESS is
    * scale-invariant — and keeps exp in range for any corpus). ESS ≈ n
    * means weights are flat (resampling changes little); ESS ≪ n means
    * a few documents dominate and the resample variance explodes. ONE
    * row with the top-weight share alongside. */
  def eDsirEss(s: SparkSession, d: String): DataFrame = {
    val lr = dsirScores(s, d).select(col("doc_id"), col("dsir_logratio"))
    val mx = lr.agg(max(col("dsir_logratio")).as("mx"))
    val w = lr.crossJoin(broadcast(mx))
      .select(exp(col("dsir_logratio") - col("mx")).as("w"))
    w.agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sw"),
        sum(col("w") * col("w")).as("sw2"), max(col("w")).as("wmax"))
      .select(col("n_docs"),
        round(col("sw") * col("sw") / col("sw2"), 6).as("ess"),
        round(col("sw") * col("sw") / col("sw2") / col("n_docs"), 6)
          .as("ess_ratio"),
        round(col("wmax") / col("sw"), 6).as("top_weight_share"))
  }

  /** Naive-Bayes language classifier — the trainable router at the gate
    * of every published curation pipeline (CCNet/GPT-3's quality
    * classifier, fastText's langid), trained on the non-held-out slice
    * and scoring the held-out docs. Model is classes × NbBuckets counts
    * (broadcast); scoring is one narrow scan + broadcast grid join +
    * aggregation-only argmax — no window, nothing wide shuffles. */
  def eNbClassify(s: SparkSession, d: String): DataFrame =
    nbScored(s, d).select("doc_id", "pred_lang", "nb_score").orderBy("doc_id")

  /** The classifier's confusion matrix on the held-out slice — the
    * accuracy meter that decides whether the router is trustworthy
    * before it gates a 100 TB corpus. Bounded at classes² rows. */
  def eNbConfusion(s: SparkSession, d: String): DataFrame =
    nbScored(s, d).groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  /** Data-independent threshold grid for the PR-curve calibration — the
    * scalable alternative to per-distinct-score thresholds (which would
    * need a global sort of every margin); spans the observed one-vs-rest
    * log-margin range with headroom on both sides. */
  private val PrThresholds = Seq(-5.0, 0.0, 5.0, 10.0, 15.0, 20.0, 25.0, 30.0)

  /** Precision/recall/F1 calibration curve of the NB router as a binary
    * "is this English?" gate: per held-out doc the one-vs-rest margin
    * (score_en − best other class), swept over the fixed
    * [[PrThresholds]] grid — the table a curation team reads to PICK the
    * gate threshold before filtering a 100 TB corpus. One |eval| ×
    * |grid| explode + a grid-bounded aggregation; F1 is computed from
    * raw counts (2·tp / (pp + pos)), never from rounded ratios, so the
    * 6-dp report is a pure function of integer counts. */
  def eNbPrCurve(s: SparkSession, d: String): DataFrame = {
    val sc = nbScoreAll(s, d)
    val mg = sc.groupBy(col("doc_id"), col("lang"))
      .agg(max(when(col("class") === "en", col("score"))).as("s_en"),
        max(when(col("class") =!= "en", col("score"))).as("s_rest"))
      .select((col("lang") === "en").cast("long").as("is_en"),
        round(col("s_en") - col("s_rest"), 6).as("margin"))
    mg.withColumn("threshold", explode(typedLit(PrThresholds)))
      .groupBy(col("threshold"))
      .agg(sum((col("margin") >= col("threshold")).cast("long")).as("pp"),
        sum(when(col("margin") >= col("threshold"), col("is_en"))
          .otherwise(lit(0L))).as("tp"),
        sum(col("is_en")).as("npos"))
      .select(col("threshold"), col("pp").as("n_pred_pos"),
        col("tp").as("n_true_pos"),
        when(col("pp") === 0, lit(0.0))
          .otherwise(round(col("tp").cast("double") / col("pp"), 6)).as("prec"),
        round(col("tp").cast("double") / col("npos"), 6).as("rec"),
        when(col("pp") + col("npos") === 0, lit(0.0))
          .otherwise(round(lit(2.0) * col("tp") / (col("pp") + col("npos")),
            6)).as("f1"))
      .orderBy("threshold")
  }

  /** Cohen's kappa between the TRAINED router and the stopword-heuristic
    * language ID over the same held-out docs — the chance-corrected
    * agreement meter label-quality audits run between two annotators.
    * po from one narrow join, pe from two classes-bounded marginal
    * tables; kappa is computed on the raw rationals (exact integer
    * ratios in double) and rounded once. Output is ONE row. */
  def eClassifierKappa(s: SparkSession, d: String): DataFrame = {
    val pairs = nbScored(s, d).select(col("doc_id"), col("pred_lang"))
      .join(Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("h_pred")), Seq("doc_id"))
    val m1 = pairs.groupBy(col("pred_lang").as("c"))
      .agg(count(lit(1)).as("n1"))
    val m2 = pairs.groupBy(col("h_pred").as("c"))
      .agg(count(lit(1)).as("n2"))
    val peRow = m1.join(m2, Seq("c"), "full")
      .agg(sum(coalesce(col("n1"), lit(0L)) * coalesce(col("n2"), lit(0L)))
        .as("cross_mass"))
    pairs
      .agg(count(lit(1)).as("n_docs"),
        sum((col("pred_lang") === col("h_pred")).cast("long")).as("agree"))
      .crossJoin(broadcast(peRow))
      .select(col("n_docs"),
        round(col("agree").cast("double") / col("n_docs"), 6).as("po"),
        // n² in DOUBLE — the long product overflows at multi-billion rows
        round(col("cross_mass").cast("double") /
          (col("n_docs").cast("double") * col("n_docs")), 6).as("pe"),
        round((col("agree").cast("double") / col("n_docs") -
          col("cross_mass").cast("double") /
            (col("n_docs").cast("double") * col("n_docs"))) /
          (lit(1.0) - col("cross_mass").cast("double") /
            (col("n_docs").cast("double") * col("n_docs"))), 6).as("kappa"))
  }

  /** Temperature-scaled mixture weights (the mT5/multilingual sampling
    * recipe): per-source sampling weight p^α / Σ p^α over natural token
    * shares. One corpus scan to a sources-bounded frame; the two scalar
    * renormalizations ride broadcast one-row frames. `boost` = w/p is
    * the effective oversampling factor a budget planner reads off. */
  def eMixtureTemperature(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"),
        graft.functions.TextAnalysis.unicodeTokenCount(col("text")).as("ntok"))
      .groupBy("source").agg(sum(col("ntok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).cast("double").as("__tot"))
    val withP = per.crossJoin(broadcast(tot))
      .withColumn("__p", col("n_tokens").cast("double") / col("__tot"))
    val z = withP.agg(sum(pow(col("__p"), MixAlpha)).as("__z"))
    withP.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"),
        round(col("__p"), 6).as("p"),
        round(pow(col("__p"), MixAlpha) / col("__z"), 6).as("w"),
        round((pow(col("__p"), MixAlpha) / col("__z")) / col("__p"), 6).as("boost"))
      .orderBy("source")
  }

  /** Content-defined chunking: rolling-hash boundaries segment every doc
    * into content-anchored variable chunks (expected ≈ CdcDivisor
    * tokens). Entirely in-row — a narrow scan partitioned like the
    * corpus scan. */
  def eCdcChunks(s: SparkSession, d: String): DataFrame =
    graft.operators.ContentChunks.chunks(Tables.documents(s, d),
        "doc_id", "text", window = CdcWindow, divisor = CdcDivisor,
        maxLen = CdcMaxLen)
      .orderBy("doc_id", "chunk_idx")

  /** Chunk-grain duplication under CDC segmentation — the
    * boundary-shift-immune dedup grain fixed-window passage dedup
    * misses. One chunk-hash aggregation. */
  def eCdcDedup(s: SparkSession, d: String): DataFrame =
    graft.operators.ContentChunks.duplicatedChunks(
      graft.operators.ContentChunks.chunks(Tables.documents(s, d),
        "doc_id", "text", window = CdcWindow, divisor = CdcDivisor,
        maxLen = CdcMaxLen))
      .orderBy(desc("n_copies"), col("chunk_hash"))

  def eCosineTopk(s: SparkSession, d: String): DataFrame =
    // brute force is the eval baseline, so its graded query rides the
    // same bounded sample as the other ground-truth reads
    Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0 && col("vec_id") < EvalQueryCut,
        k = 5)
      .orderBy("query_id", "rank")

  /** JL random projection composed into retrieval: 64-dim embeddings
    * project to 16 dims through the hash-derived ±1 sign matrix (one
    * narrow codegen scan), then brute-force cosine top-3 runs entirely in
    * the projected space — the d/k bandwidth cut every downstream exchange
    * inherits. */
  def eRandomProjection(s: SparkSession, d: String): DataFrame = {
    val proj = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("pv"))
      .select(col("vec_id"),
        graft.similarity.RandomProjection.projected(
          col("pv"), dims = 64, k = 16).as("proj"))
    Similarity.bruteForceTopK(proj, "vec_id", "proj",
        isQuery = col("vec_id") % 50 === 0, k = 3)
      .orderBy("query_id", "rank")
  }

  def eAnnLshTopk(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0, k = 3, dims = AnnDims)
      .orderBy("query_id", "rank")

  /** Multi-probe LSH: the [[eAnnLshTopk]] search with Hamming-1 bucket
    * probes — recall recovered from one-flip near-misses. */
  def eAnnMultiprobe(s: SparkSession, d: String): DataFrame =
    Similarity.lshMultiProbeTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0, k = 3, dims = AnnDims)
      .orderBy("query_id", "rank")

  /** ANN recall measurement — the evaluation operator every approximate
    * index needs before anyone trusts it ("measure, don't guess"): per
    * query, |multiprobe@3 ∩ exact@3| / 3 against the brute-force ground
    * truth. At scale ground truth comes from a (sampled) exact pass over
    * the query slice only — the corpus-side cost profile of
    * [[Similarity.bruteForceTopK]], bounded by the query count. */
  def eAnnRecall(s: SparkSession, d: String): DataFrame = {
    val isQ = col("vec_id") % 50 === 0 && col("vec_id") < EvalQueryCut
    val emb = Tables.embeddings(s, d)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", isQ, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity.lshMultiProbeTopK(emb, "vec_id", "embedding",
        isQ, k = 3, dims = AnnDims)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("__hit")).as("n_hits"),
        round(count(col("__hit")) / 3.0, 6).as("recall"))
      .orderBy("query_id")
  }

  /** Measured JL quality: recall@3 of the PROJECTED-space top-k against
    * the full-space ground truth per query — the number that says whether
    * 16 dims are enough before committing the d/k bandwidth saving. */
  def eRpRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val isQ = col("vec_id") % 50 === 0 && col("vec_id") < EvalQueryCut
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", isQ, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val proj = emb
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("pv"))
      .select(col("vec_id"),
        graft.similarity.RandomProjection.projected(
          col("pv"), dims = 64, k = 16).as("proj"))
    val approx = Similarity.bruteForceTopK(proj, "vec_id", "proj", isQ, k = 3)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("__hit")).as("n_hits"),
        round(count(col("__hit")) / 3.0, 6).as("recall"))
      .orderBy("query_id")
  }

  /** ANN recall-vs-cost sweep — the tuning curve a deployment actually
    * reads before picking `nProbe`: for each probe count, micro-averaged
    * recall@k of the IVF search against the brute-force ground truth AND
    * the paid cost (scored candidate rows). One centroid-matrix collect
    * serves every branch; candidate sets nest as nProbe grows (best-first
    * probes), so recall is provably monotone along the curve — property-
    * tested, and visible in the result. */
  def eAnnRecallSweep(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val isQ = col("vec_id") % 50 === 0 && col("vec_id") < EvalQueryCut
    // ONE scoring pass + ONE window + ONE aggregation for the whole sweep
    // (guide §1.2/§2.4). Candidates nest best-first in probe_rank, so the
    // candidate table at probe p is `probe_rank <= p` over the max-probe
    // table; and because every sweep branch ranks by the SAME
    // (cosine desc, neighbor asc) order, the per-branch row_number over the
    // probe-p cut is a conditional RUNNING COUNT over one shared sort —
    // all probe counts ride a single exchange, where the old shape paid an
    // assignment + scoring + window + join chain PER probe count.
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", isQ,
        k = SweepK)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__ex"))
    val nQueries = emb.filter(isQ)
      .agg(count(lit(1)).as("n_queries"))
    val cells = graft.similarity.CellAssignment.collect(
      emb, "vec_id", "embedding", col("vec_id") % 50 === 1)
    val cand = Similarity.ivfScoredCandidatesRanked(
      cells, emb, "vec_id", "embedding", isQ, SweepProbes.max)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // rank of each row among the probe-p candidates of its query = running
    // count of probe_rank<=p rows in the shared (unique-keyed) sort order
    val ranked = cand.select(
      Seq(col("query_id"), col("neighbor_id"), col("probe_rank")) ++
        SweepProbes.map(p =>
          sum(when(col("probe_rank") <= p, 1L).otherwise(0L)).over(w)
            .as(s"__rn$p")): _*)
    val flags = ranked
      .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
    val aggCols = SweepProbes.flatMap { p =>
      Seq(
        sum(when(col("probe_rank") <= p, 1L).otherwise(0L)).as(s"__nc$p"),
        sum(when(col("probe_rank") <= p && col(s"__rn$p") <= SweepK &&
          col("__ex").isNotNull, 1L).otherwise(0L)).as(s"__nh$p"))
    }
    val stats = flags.agg(aggCols.head, aggCols.tail: _*)
      .crossJoin(nQueries)
    stats.select(explode(array(SweepProbes.map(p =>
        struct(lit(p.toLong).as("n_probe"), col("n_queries"),
          col(s"__nc$p").as("n_candidates"), col(s"__nh$p").as("n_hits"),
          round(col(s"__nh$p") / (lit(SweepK.toDouble) * col("n_queries")), 6)
            .as("recall"))): _*)).as("r"))
      .select(col("r.n_probe"), col("r.n_queries"), col("r.n_candidates"),
        col("r.n_hits"), col("r.recall"))
      .orderBy("n_probe")
  }

  /** IVF-flat ANN: deterministic sampled centroids (vec_id % 50 == 1),
    * nProbe=2 cells per query. */
  def eIvfTopk(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0,
        isCentroid = col("vec_id") % 50 === 1,
        k = 3, nProbe = 2)
      .orderBy("query_id", "rank")

  /** PQ codes: per (vector, subspace) nearest-codeword id + quantization
    * error — the 64×-smaller corpus representation ANN scans at 100 TB. */
  def ePqEncode(s: SparkSession, d: String): DataFrame =
    graft.similarity.ProductQuantization.encode(
        Tables.embeddings(s, d), "vec_id", "embedding",
        isCodeword = col("vec_id") % 50 === 1, PqM, PqSubDim)
      .orderBy("vec_id", "m")

  /** PQ-ADC top-k: unquantized queries against the coded corpus via a
    * broadcast partial-distance lookup table — no raw vector is touched at
    * query time. */
  def ePqAdcTopk(s: SparkSession, d: String): DataFrame =
    // the UNPRUNED ADC scan is the eval-side exhaustive baseline (the
    // production searches are the IVF-pruned variants) — sampled queries
    graft.similarity.ProductQuantization.adcTopK(
        Tables.embeddings(s, d), "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0 && col("vec_id") < EvalQueryCut,
        isCodeword = col("vec_id") % 50 === 1,
        PqM, PqSubDim, PqTopK)
      .orderBy("query_id", "rank")

  /** IVF-PQ: coarse-cell pruning × PQ-code compression — candidates come
    * from the probed cells only, scored by ADC over the inverted file with
    * codes. */
  def eIvfPqTopk(s: SparkSession, d: String): DataFrame =
    graft.similarity.ProductQuantization.ivfPqTopK(
        Tables.embeddings(s, d), "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0,
        isCentroid = col("vec_id") % 50 === 1,
        isCodeword = col("vec_id") % 50 === 1,
        PqM, PqSubDim, PqTopK, nProbe = 2)
      .orderBy("query_id", "rank")

  /** NDCG@k of the IVF search against the brute-force ideal ordering —
    * the graded-relevance retrieval eval (recall says whether the true
    * neighbors appear; NDCG says whether the ORDER puts the most-similar
    * ones first, which is what a RAG consumer actually reads). Gain =
    * (true cosine + 1)/2, discount 1/log₂(rank+1); both lists reuse the
    * existing IVF and brute-force operators. */
  def eRetrievalNdcg(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val isQ = col("vec_id") % 50 === 0 && col("vec_id") < EvalQueryCut
    def dcgOf(df: DataFrame, out: String) = df
      .groupBy(col("query_id"))
      .agg(sum(((col("cosine_sim") + lit(1.0)) / lit(2.0)) /
        (log(col("rank") + lit(1.0)) / log(lit(2.0)))).as(out))
    val dcg = dcgOf(Similarity.ivfTopK(emb, "vec_id", "embedding",
      isQuery = isQ, isCentroid = col("vec_id") % 50 === 1,
      k = SweepK, nProbe = 2), "dcg")
    val idcg = dcgOf(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      isQuery = isQ, k = SweepK), "idcg")
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"), round(col("dcg"), 6).as("dcg"),
        round(col("idcg"), 6).as("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
      .orderBy("query_id")
  }

  /** MRR of the IVF search: mean reciprocal rank of each query's TRUE
    * nearest neighbor (brute-force rank 1) inside the IVF top-[[SweepK]]
    * list — the first-hit retrieval eval beside recall (any hit) and
    * NDCG (whole-list order). A query whose true NN misses the list
    * contributes 0. ONE summary row; both lists reuse the existing
    * operators, brute force confined to the eval. */
  def eRetrievalMrr(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val isQ = col("vec_id") % 50 === 0 && col("vec_id") < EvalQueryCut
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
      isQuery = isQ, isCentroid = col("vec_id") % 50 === 1,
      k = SweepK, nProbe = 2)
    val nn = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        isQuery = isQ, k = 1)
      .select(col("query_id"), col("neighbor_id").as("nn_id"))
    nn.join(ivf.select(col("query_id"), col("neighbor_id").as("nn_id"),
        col("rank")), Seq("query_id", "nn_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        sum(col("rank").isNotNull.cast("long")).as("n_found"),
        round(avg(when(col("rank").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("rank"))), 6).as("mrr"))
  }

  /** IVF-PQ with exact re-ranking — the refine stage of FAISS's IVFPQR
    * and the standard production shape: ADC's lossy distances shortlist
    * [[PqRerankDepth]] candidates, then ONLY those rows fetch their raw
    * embeddings (equi-join on the id, candidates broadcast — the corpus's
    * embedding arrays never shuffle) for an exact rounded-cosine re-rank
    * to the final top-[[PqTopK]]. Fixes ADC's near-boundary inversions at
    * the cost of depth-per-query exact scores, not corpus-wide ones. */
  def eIvfPqRerank(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cand = graft.similarity.ProductQuantization.ivfPqTopK(
        emb, "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0,
        isCentroid = col("vec_id") % 50 === 1,
        isCodeword = col("vec_id") % 50 === 1,
        PqM, PqSubDim, PqRerankDepth, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"),
      Similarity.norm(col("embedding")).as("c_norm"))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        Similarity.norm(col("embedding")).as("q_norm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(desc("cosine_sim"), asc("neighbor_id"))
    corpus.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("q_emb"), col("c_emb")) /
          (col("q_norm") * col("c_norm")), 6).as("cosine_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= PqTopK)
      .orderBy("query_id", "rank")
  }

  /** Hard-negative mining for dense-retriever training: per query, the
    * ANN candidates ranked JUST BELOW the likely-positive shortlist head
    * (ranks HnSkip+1 .. HnSkip+HnK) — the negatives the current embedding
    * space confuses with positives, which is what contrastive training
    * wants. Pure composition of [[Similarity.ivfTopK]] (deeper k) with a
    * rank-band filter: inherits IVF's probed-cell scale shape. */
  def eHardNegatives(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0,
        isCentroid = col("vec_id") % 50 === 1,
        k = HnSkip + HnK, nProbe = 2)
      .filter(col("rank") > HnSkip)
      .orderBy("query_id", "rank")

  /** IVFADC with residual coding: the [[eIvfPqTopk]] search with the codes
    * quantizing per-cell residuals via a shared residual codebook —
    * codewords sampled DISJOINT from the centroids (vec_id % 50 == 2; a
    * centroid's own residual is the zero vector). */
  def eIvfPqResidual(s: SparkSession, d: String): DataFrame =
    graft.similarity.ProductQuantization.ivfPqResidualTopK(
        Tables.embeddings(s, d), "vec_id", "embedding",
        isQuery = col("vec_id") % 50 === 0,
        isCentroid = col("vec_id") % 50 === 1,
        isCodeword = col("vec_id") % 50 === 2,
        PqM, PqSubDim, PqTopK, nProbe = 2)
      .orderBy("query_id", "rank")

  /** BM25 retrieval: top documents for a fixed probe query — the posting
    * lists of the query terms, never the full token stream. */
  def eBm25(s: SparkSession, d: String): DataFrame =
    graft.functions.Bm25.topDocs(Tables.documents(s, d), "doc_id", "text",
      Bm25Terms, topK = Bm25TopK)

  /** Dirichlet query-likelihood retrieval over the SAME probe query as
    * e_bm25 — the language-model ranking family (Zhai & Lafferty 2001)
    * next to BM25's probabilistic one; see
    * [[graft.functions.QueryLikelihood]] for the posting-bounded
    * factorization. */
  def eQlDirichlet(s: SparkSession, d: String): DataFrame =
    graft.functions.QueryLikelihood.topDocs(Tables.documents(s, d),
      "doc_id", "text", Bm25Terms, mu = QlMu, topK = Bm25TopK)

  /** RBO persistence parameter (Webber et al. 2010): 0.9 ≈ the top ~10
    * ranks carry ~86% of the weight. */
  private val RboP = 0.9

  /** Rank-biased overlap between the BM25 and query-likelihood top-k
    * lists — the top-WEIGHTED agreement measure (Webber et al., TOIS
    * 2010) that Spearman cannot give: rank-1 disagreements matter more
    * than rank-k ones, and non-conjoint lists (each ranker retrieving
    * docs the other missed) are handled natively instead of through the
    * rank-(k+1) imputation [[eRankCorr]] documents. Truncated RBO@k:
    * (1−p)/(1−p^k)-normalized Σ_d p^(d−1)·(overlap@d / d) over the
    * bounded depth grid — every overlap@d is an exact integer, so the
    * only FP is the final weighted sum (6-dp rounded). Work = k² pairs
    * of two ≤ k-row lists. */
  def eRankOverlap(s: SparkSession, d: String): DataFrame = {
    val byDepth = rankOverlapByDepth(s, d)
    val norm = (1.0 - RboP) / (1.0 - math.pow(RboP, Bm25TopK))
    val rbo = byDepth.agg(round(lit(norm) *
      sum(pow(lit(RboP), col("depth") - 1) *
        (col("overlap").cast("double") / col("depth"))), 6).as("rbo"))
    byDepth.crossJoin(broadcast(rbo)).orderBy("depth")
  }

  // materialized ONCE (round 13): the ≤ Bm25TopK-row by-depth table
  // feeds both the per-depth output and the RBO scalar — leaving it lazy
  // planned the whole retrieval+rank+overlap subtree twice (the
  // WindowBudgetSpec:22-24 duplication; budget was 4, now 0 visible
  // windows because the bounded subplan runs behind the checkpoint). A
  // memo, not an anonymous checkpoint, so its blocks are released after
  // the query instead of leaking for the rest of the suite (the round-11
  // lm-family interference mode).
  private val rankOverlapByDepth = memos("rankOverlapByDepth", "e_rank_overlap") { (s, d) =>
    val docs = Tables.documents(s, d)
    val bm = graft.functions.Bm25.topDocs(docs, "doc_id", "text",
      Bm25Terms, topK = Bm25TopK)
      .select(col("doc_id"), col("bm25").as("score"))
    val ql = graft.functions.QueryLikelihood.topDocs(docs, "doc_id",
      "text", Bm25Terms, mu = QlMu, topK = Bm25TopK)
      .select(col("doc_id"), col("ql").as("score"))
    def ranked(df: DataFrame, rankName: String) = df
      .withColumn(rankName, row_number().over(
        org.apache.spark.sql.expressions.Window
          // bounded frame: ≤ Bm25TopK post-limit rows (the eRankCorr
          // convention; budgeted in WindowBudgetSpec)
          .orderBy(desc("score"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col(rankName))
    val joined = ranked(bm, "ra").join(ranked(ql, "rb"), Seq("doc_id"), "full")
    val depths = Seq.range(1, Bm25TopK + 1).map(_.toLong)
    Dedup.materializeAndRelease(joined
      .withColumn("depth", explode(typedLit(depths)))
      .groupBy(col("depth"))
      .agg(sum((col("ra") <= col("depth") && col("rb") <= col("depth"))
        .cast("long")).as("overlap"))
      .select(col("depth"), col("overlap"),
        round(col("overlap").cast("double") / col("depth"), 6)
          .as("agreement")))
  }

  /** Spearman rank correlation between the BM25 and query-likelihood
    * top-k lists — the eval that says whether the two ranking families
    * actually disagree enough to justify fusing them (read next to
    * e_hybrid_rrf). Standard depth-k treatment: over the UNION of both
    * lists, a doc missing from one list takes rank k+1 there; Σd² is
    * integer-exact, so the only FP step is the final rho division —
    * order-identical in both engines. Everything is ≤ 2k rows after the
    * two bounded retrieval cuts. */
  def eRankCorr(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // ranks within each bounded (≤ topK rows, post-limit) list
    def ranked(df: DataFrame, rankName: String, scoreCol: String) =
      df.withColumn(rankName,
        row_number().over(Window.orderBy(desc(scoreCol), asc("doc_id")))
          .cast("long"))
        .select(col("doc_id"), col(rankName))
    val bm = ranked(graft.functions.Bm25.topDocs(docs, "doc_id", "text",
      Bm25Terms, topK = Bm25TopK), "rb", "bm25")
    val ql = ranked(graft.functions.QueryLikelihood.topDocs(docs, "doc_id",
      "text", Bm25Terms, mu = QlMu, topK = Bm25TopK), "rq", "ql")
    val miss = lit((Bm25TopK + 1).toLong)
    val joined = bm.join(ql, Seq("doc_id"), "full")
      .select(coalesce(col("rb"), miss).as("rb"),
        coalesce(col("rq"), miss).as("rq"))
    val dd = (col("rb") - col("rq")) * (col("rb") - col("rq"))
    joined.agg(count(lit(1)).as("n_docs"), sum(dd).as("sum_d2"))
      .select(col("n_docs"), col("sum_d2"),
        round(lit(1.0) - lit(6.0) * col("sum_d2") /
          (col("n_docs") * (col("n_docs") * col("n_docs") - lit(1L))), 6)
          .as("spearman_rho"))
  }

  /** The dataset card: corpus-level summary statistics in ONE scan (plus
    * the distinct-hash count for the exact-dup rate) — the standard
    * deliverable accompanying a training-data release. All aggregates
    * map-side combine; the single output row is the whole shuffle. */
  def eDatasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.unicodeTokenCount(col("text"))).as("total_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      round(avg(length(col("text"))), 4).as("avg_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      countDistinct(md5(trim(lower(col("text"))))).as("n_distinct_texts"))
      .withColumn("exact_dup_rate",
        round(lit(1.0) - col("n_distinct_texts").cast("double")
          / col("n_docs"), 6))
  }

  /** Interval-overlap join via the binned equi-join: which views landed
    * inside the 5-minute window after each error event. At 100 TB the
    * naive form is a broadcast-nested-loop over every (error, view) pair;
    * the grid join's work is bin-local. */
  def eIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // integral div: ts is epoch-NANOS (≫ 2^53, double division is lossy)
    val sec = expr("ts div 1000000000")
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), sec.as("i_start"),
        (sec + 300L).as("i_end"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), sec.as("v_ts"),
        sec.as("v_ts_end"))
    graft.operators.IntervalJoin.overlap(
        incidents, "i_start", "i_end", views, "v_ts", "v_ts_end",
        binWidth = 300L)
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_views"),
        min(col("v_ts")).as("first_view"), max(col("v_ts")).as("last_view"))
      .orderBy("incident_id")
  }

  /** Z-order keys over two scan dimensions (doc length, id bucket) — the
    * write-time layout pass that makes row-group min/max stats selective
    * for BOTH dimensions; graded on the key arithmetic, locality proven in
    * ZOrderSpec. */
  def eZorderKey(s: SparkSession, d: String): DataFrame = {
    val x = (col("n_chars") % 256).cast("long")
    val y = (col("doc_id") % 256).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), x.as("x"), y.as("y"),
        graft.storage.ZOrder.zValue(x, y, bits = 8).as("z"))
      .orderBy("doc_id")
  }

  /** Hilbert-curve layout key over the same (length-bucket, id-bucket)
    * plane as [[eZorderKey]] — the locality upgrade: consecutive indices
    * are always grid-adjacent (no Morton diagonal jumps), strictly better
    * worst-case box-query locality. Pure unrolled shift/mask/CASE column
    * arithmetic, one narrow scan. */
  def eHilbertKey(s: SparkSession, d: String): DataFrame = {
    val x = (col("n_chars") % 256).cast("long")
    val y = (col("doc_id") % 256).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), x.as("x"), y.as("y"),
        graft.storage.Hilbert.hValue(x, y, bits = 8).as("h"))
      .orderBy("doc_id")
  }

  /** Bigram collocations by PMI (min pair count 10, top 30) — phrase
    * detection over the corpus, in-row bigram extraction. */
  def eCollocations(s: SparkSession, d: String): DataFrame =
    graft.functions.Collocations.topPmiBigrams(
      Tables.documents(s, d), "text", minCount = 10L, topK = 30)

  /** Perplexity filter signal: per-doc cross-entropy under the corpus's
    * own smoothed unigram LM (CCNet-style quality scoring, relational). */
  def eLmPerplexity(s: SparkSession, d: String): DataFrame =
    graft.functions.LanguageModel.perplexity(
        Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  // Two queries (the interpolated scores themselves, the CCNet tail cut)
  // read the same per-doc bigram-LM score table; memoize it materialized
  // per sfDir — compact (one row per doc).
  private val lmScores = memos("lmScores", "e_lm_perplexity2", "e_lm_tail_cut") {
    (s, d) => Dedup.materializeAndRelease(
      graft.functions.LanguageModel.perplexityInterpolated(
        Tables.documents(s, d), "doc_id", "text",
        alpha = LmAlpha, lambda = LmLambda))
  }

  /** Interpolated-bigram perplexity per document — the CCNet-style model
    * quality filter's score table (λ·bigram + (1−λ)·unigram, add-α). */
  def eLmPerplexity2(s: SparkSession, d: String): DataFrame =
    lmScores(s, d).orderBy("doc_id")

  /** Interpolated Kneser-Ney bigram perplexity per document — the
    * smoothing the production KenLM filter stage actually ships (backoff
    * mass goes to CONTINUATION probability, not raw unigram frequency, so
    * collocation-bound words stop masquerading as generally likely). */
  def eLmKneserNey(s: SparkSession, d: String): DataFrame =
    graft.functions.LanguageModel.perplexityKneserNey(
        Tables.documents(s, d), "doc_id", "text", discount = KnDiscount)
      .orderBy("doc_id")

  /** The CCNet-style tail cut applied: drop the worst (highest-perplexity)
    * decile of the corpus. The decile boundary is exact global NTILE rank —
    * computed with the histogram two-pass [[graft.operators.ScalableNtile]]
    * (same plan discipline as wx_ntile), never a corpus-wide single-task
    * window. */
  def eLmTailCut(s: SparkSession, d: String): DataFrame =
    graft.operators.ScalableNtile(lmScores(s, d), LmTailTiles,
        bin = floor(-col("perplexity") * 100),
        sortKeys = Seq(col("perplexity").desc, col("doc_id").asc),
        out = "tile")
      .filter(col("tile") > 1)
      .select(col("doc_id"), col("perplexity"), col("tile"))
      .orderBy("doc_id")

  /** Mergeable quantile summary per event type (deterministic multi-level
    * compaction, k = 128), probed for the median and p99 — graded WITH
    * rank-error certificates like [[eApproxPercentile]]: the output is
    * the exact group count plus 0/1 flags asserting each probe's rank
    * window overlaps [q−ε, q+ε]·n at ε = 0.05, the same k=128 compaction
    * bound `QuantileSketchSpec` proves, ±1 row slop. The DuckDB oracle
    * recomputes n and expects every flag to hold. */
  def eQuantileSketch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value").cast("double").as("v"))
    val ests = ev.groupBy(col("event_type"))
      .agg(graft.operators.QuantileSketch.agg(128)(col("v")).as("qs"))
      .select(col("event_type"),
        graft.operators.QuantileSketch.quantileCol(col("qs"), 0.5).as("est_p50"),
        graft.operators.QuantileSketch.quantileCol(col("qs"), 0.99).as("est_p99"))
    withinRankBound(ev, ests, eps = 0.05)
  }

  /** Entropy-based LM pruning report: the [[LmPruneTopK]] bigram entries
    * the interpolated model can least afford to lose, with their
    * per-token corpus-likelihood losses and keep/prune decisions at
    * [[LmPruneTheta]] — the KenLM `--prune` analogue
    * ([[graft.functions.LanguageModel.bigramPruneLoss]]). TakeOrdered
    * head over the bigram-sized loss frame; nothing corpus-sized
    * shuffles. */
  def eLmPrune(s: SparkSession, d: String): DataFrame =
    graft.functions.LanguageModel.bigramPruneLoss(
        Tables.documents(s, d), "text", LmAlpha, LmLambda)
      .select(col("w1"), col("w2"), col("c12"),
        round(col("loss"), 6).as("loss"),
        (col("loss") >= LmPruneTheta).cast("long").as("kept"))
      .orderBy(desc("loss"), asc("w1"), asc("w2"))
      .limit(LmPruneTopK)

  /** One-row summary of the pruning decision at [[LmPruneTheta]]: model
    * rows before/after and the bigram-mass share the kept entries cover
    * (≈ how much of the corpus still scores through a dedicated entry). */
  def eLmPruneStats(s: SparkSession, d: String): DataFrame =
    graft.functions.LanguageModel.bigramPruneLoss(
        Tables.documents(s, d), "text", LmAlpha, LmLambda)
      .agg(count(lit(1)).as("b_types"),
        sum((col("loss") >= LmPruneTheta).cast("long")).as("n_kept"),
        sum((col("loss") < LmPruneTheta).cast("long")).as("n_pruned"),
        round(sum(when(col("loss") >= LmPruneTheta, col("c12"))
            .otherwise(lit(0L))).cast("double") /
          sum(col("c12")).cast("double"), 6).as("kept_mass"))

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack/Clarke/Büttcher,
    * SIGIR 2009): the BM25 lexical ranking and the embedding cosine
    * ranking fuse as Σ 1/(k + rank) — the standard RAG retrieval stack,
    * here a pure composition of the two existing operators. Both input
    * lists are top-`RrfDepth` cuts (bounded by construction, so the rank
    * windows run over ≤ RrfDepth rows); absent ranks contribute 0. */
  def eHybridRrf(s: SparkSession, d: String): DataFrame = {
    // RrfDepth-bounded frame (post-topK): constant partition key = same
    // single-partition run without the unpartitioned-window warning
    val lexW = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(desc("bm25"), asc("doc_id"))
    val lex = graft.functions.Bm25.topDocs(Tables.documents(s, d), "doc_id",
        "text", Bm25Terms, topK = RrfDepth)
      .select(col("doc_id"), row_number().over(lexW).cast("long").as("lex_rank"))
    val sem = Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id",
        "embedding", isQuery = col("vec_id") === 0, k = RrfDepth)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("sem_rank"))
    val contrib = (r: org.apache.spark.sql.Column) =>
      coalesce(lit(1.0) / (lit(RrfK) + r), lit(0.0))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        round(contrib(col("lex_rank")) + contrib(col("sem_rank")), 6).as("rrf_score"))
      .orderBy(desc("rrf_score"), asc("doc_id"))
      .limit(RrfTopK)
  }

  /** Priority sample of the corpus weighted by token count — fixed-size,
    * heavy-doc-favoring, deterministic, with DLT estimator weights. */
  def eWeightedSample(s: SparkSession, d: String): DataFrame =
    graft.operators.WeightedSample.prioritySample(
        Tables.documents(s, d), "doc_id",
        graft.functions.TextAnalysis.unicodeTokenCount(col("text")), n = WsN)
      .orderBy("doc_id")

  /** Near-dup removal applied: the cleaned corpus after dropping the higher
    * doc_id of every high-confidence MinHash pair. */
  def eDedupApply(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dups = minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(dups, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** What dedup deletes, per source: docs/tokens before and after the
    * near-dup apply (same survivor convention as `e_dedup_apply` — the
    * min-id side of every ≥0.5 pair survives), with the removed-token
    * share. The deliverable a curator signs off on BEFORE running the
    * destructive apply. One left-anti-shaped flag join + one source
    * aggregation; rides the memoized pair table. */
  def eDedupImpact(s: SparkSession, d: String): DataFrame = {
    val removed = minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_removed", lit(1L))
    Tables.documents(s, d)
      .withColumn("n_tokens",
        graft.functions.TextAnalysis.unicodeTokenCount(col("text")))
      .join(removed, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_removed"), lit(0L))).as("n_removed"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("is_removed").isNotNull, col("n_tokens"))
          .otherwise(lit(0L))).as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("tokens_total"), col("tokens_removed"),
        round(col("tokens_removed").cast("double") / col("tokens_total"), 6)
          .as("token_share_removed"))
      .orderBy("source")
  }

  /** LSH candidate quality graded against EXACT ground truth: recall and
    * precision of the banded-MinHash ≥0.5 pair set against the
    * zero-false-negative prefix-filtering join's exact Jaccard ≥ 1/2
    * pairs — the eval that was impossible before `e_prefix_join` existed
    * (the calibration query grades the ESTIMATOR; this grades the
    * CANDIDATE SET). Both pair tables ride shared memos/operators; the
    * report is one row. */
  /** [[eLshRecall]] swept across thresholds: recall and precision of the
    * banded candidates at every 10-point Jaccard threshold — the whole
    * operating curve from ONE outer join of the exact truth table
    * against the unthresholded estimate table, conditional aggregates
    * per level, stack-unpivoted. */
  def eLshRecallSweep(s: SparkSession, d: String): DataFrame = {
    val thresholds = Seq(50, 60, 70, 80, 90)
    val joined = prefixJoinMemo(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(minhashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard")),
        Seq("doc_a", "doc_b"), "full_outer")
    val aggs = thresholds.flatMap { t =>
      val inTruth = col("jaccard") * 100 >= t
      val inCand = col("est_jaccard") * 100 >= t
      Seq(sum(inTruth.cast("long")).as(s"nt_$t"),
        sum(inCand.cast("long")).as(s"nc_$t"),
        sum((inTruth && inCand).cast("long")).as(s"nh_$t"))
    }
    val one = joined.agg(aggs.head, aggs.tail: _*)
    val stackArgs = thresholds
      .map(t => s"CAST($t AS BIGINT), coalesce(`nt_$t`, 0), coalesce(`nc_$t`, 0), coalesce(`nh_$t`, 0)")
      .mkString(", ")
    one.select(expr(
        s"stack(${thresholds.length}, $stackArgs) AS (threshold_pct, n_truth, n_candidates, n_hits)"))
      .select(col("threshold_pct"), col("n_truth"), col("n_candidates"), col("n_hits"),
        when(col("n_truth") > 0,
          round(col("n_hits").cast("double") / col("n_truth"), 6)).otherwise(0.0).as("recall"),
        when(col("n_candidates") > 0,
          round(col("n_hits").cast("double") / col("n_candidates"), 6)).otherwise(0.0).as("precision"))
      .orderBy("threshold_pct")
  }

  def eLshRecall(s: SparkSession, d: String): DataFrame = {
    val truth = prefixJoinMemo(s, d).select(col("doc_a"), col("doc_b"))
    val cand = minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val hits = truth.join(cand, Seq("doc_a", "doc_b"))
    val summary = truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
    summary.select(col("n_truth"), col("n_candidates"), col("n_hits"),
      round(col("n_hits").cast("double") / col("n_truth"), 6).as("recall"),
      round(col("n_hits").cast("double") / col("n_candidates"), 6).as("precision"))
  }

  /** TRUE connected components over the minhash candidate graph —
    * large-star/small-star to a fixpoint (vs eDedupClusters' 3 bounded
    * label-propagation rounds): exact for any component diameter.
    *
    * Bench accounting: alphabetically the FIRST consumer of the shared
    * shingle-base + minhash-pair memos, so its bench entry carries their
    * one-time build (~3.5 s of ~5.6 s at sf0.1) that e_curation_funnel,
    * e_decontam, e_dedup_*, e_leakage_split, e_ngram_jaccard then reuse. */
  def eConnectedComponents(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
    Dedup.connectedComponents(pairs, docs, "doc_id")
      .orderBy("doc_id")
  }

  /** Incremental CC exercised end-to-end: batch-label ~94% of the minhash
    * candidate graph, then fold the remaining ~6% "daily ingest" slice in
    * with [[Dedup.connectedComponentsIncremental]] — merge new pairs into
    * existing labels, re-contract ONLY the touched components (a small
    * increment leaves most components frozen, which is the operator's whole
    * point; a 50/50 split would touch nearly every component and degrade to
    * two batch runs). The replayed-increments property makes the result
    * equal batch CC over the WHOLE graph, so it shares the recursive-CTE
    * oracle with e_connected_components — the equivalence is hash-checked,
    * not just property-tested. */
  // The "existing corpus labeling" a real pipeline would already hold
  // before folding in a daily increment: batch CC over the non-increment
  // ~94% of the minhash candidate graph. A simulation artifact, built in
  // this JVM from the same memoized pairs as every other near-dup query,
  // so no state from an earlier run can feed the graded result.
  private val ccBaseline = memos("ccBaseline", "e_cc_incremental") { (s, d) =>
    val firstBatch = minhashPairs(s, d)
      .filter(col("est_jaccard") >= 0.5 && col("doc_b") % 17 =!= 0)
    Dedup.materializeAndRelease(
      Dedup.connectedComponents(firstBatch, Tables.documents(s, d), "doc_id"))
  }

  def eCcIncremental(s: SparkSession, d: String): DataFrame = {
    val increment = minhashPairs(s, d)
      .filter(col("est_jaccard") >= 0.5 && col("doc_b") % 17 === 0)
    Dedup.connectedComponentsIncremental(ccBaseline(s, d), increment)
      .orderBy("doc_id")
  }

  /** Near-dup clusters: 3 rounds of label propagation over the minhash
    * candidate graph (memoized — the leakage split reads the same table). */
  def eDedupClusters(s: SparkSession, d: String): DataFrame =
    nearDupClusters(s, d)
      .orderBy("doc_id")

  /** int8 scalar quantization of the embedding column: per-vector symmetric
    * scale (127/max|v|), plus a deterministic checksum and reconstruction
    * error — the compression that makes 100 TB of vectors disk- and
    * cache-friendly. */
  def eEmbedQuantize(s: SparkSession, d: String): DataFrame = {
    val emb = col("embedding")
    val maxAbs = aggregate(transform(emb, x => abs(x.cast("double"))),
      lit(0.0), (acc, x) => greatest(acc, x))
    Tables.embeddings(s, d)
      .withColumn("max_abs", maxAbs)
      .withColumn("q",
        transform(emb, x =>
          round(x.cast("double") * lit(127.0) / col("max_abs"), 0).cast("long")))
      .select(
        col("vec_id"),
        // no rounding: max of |float| involves no arithmetic, bit-exact
        col("max_abs"),
        aggregate(zip_with(col("q"), sequence(lit(1), size(col("q"))),
            (qv, i) => qv * i.cast("long")),
          lit(0L), (acc, x) => acc + x).as("checksum"),
        // integer-exact quality metrics: quantization-error decimals sit
        // structurally ON rounding half-quanta (Spark's BigDecimal round and
        // DuckDB's multiply-and-round disagree there), so the oracle-checked
        // columns are integers; float MSE belongs in logs, not hash-compares
        size(filter(col("q"), qv => abs(qv) === 127L)).cast("long").as("n_saturated"),
        aggregate(transform(col("q"), qv => abs(qv)),
          lit(0L), (acc, x) => acc + x).as("sum_abs_q"))
      .orderBy("vec_id")
  }

  /** Approximate percentiles WITH their rank-error certificates. The
    * estimates are sketch state (not oracle-reproducible), so the graded
    * output is the exact group count plus 0/1 flags asserting the
    * estimate's rank window overlaps [q−ε, q+ε]·n (ε = 1/accuracy =
    * 1/1000, ±1 row slop for the boundary arithmetic) — the DuckDB
    * oracle recomputes n and expects every flag to hold.
    *
    * Scale shape: the estimate aggregation is one map-side-combined
    * sketch pass; the certificate re-scan broadcasts the ≤ |event_type|
    * estimate rows back onto the events and counts rank positions in a
    * second combined aggregation. Two linear scans, no wide shuffle. */
  def eApproxPercentile(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value").cast("double").as("v"))
    val ests = ev.groupBy(col("event_type"))
      .agg(percentile_approx(col("v"), lit(0.5), lit(1000)).as("est_p50"),
        percentile_approx(col("v"), lit(0.99), lit(1000)).as("est_p99"))
    withinRankBound(ev, ests, eps = 1.0 / 1000.0)
  }

  /** Shared rank-window certificate: for each group, does `est_q`'s rank
    * range [count(v < est)+1, count(v ≤ est)] intersect
    * [(q−ε)·n − 1, (q+ε)·n + 1]? One broadcast of the per-group estimate
    * rows, one combined aggregation — the corpus never shuffles. */
  private def withinRankBound(ev: DataFrame, ests: DataFrame,
                              eps: Double): DataFrame = {
    def flag(q: Double, lt: org.apache.spark.sql.Column,
             le: org.apache.spark.sql.Column,
             n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      ((lt <= (lit(q) + lit(eps)) * n + lit(1.0)) &&
        (le >= (lit(q) - lit(eps)) * n - lit(1.0))).cast("long")
    ev.join(broadcast(ests), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("v") < col("est_p50")).cast("long")).as("lt50"),
        sum((col("v") <= col("est_p50")).cast("long")).as("le50"),
        sum((col("v") < col("est_p99")).cast("long")).as("lt99"),
        sum((col("v") <= col("est_p99")).cast("long")).as("le99"))
      .select(col("event_type"), col("n"),
        flag(0.5, col("lt50"), col("le50"), col("n")).as("p50_within_bound"),
        flag(0.99, col("lt99"), col("le99"), col("n")).as("p99_within_bound"))
      .orderBy("event_type")
  }

  /** Frame-sampling metadata over the synthesized media table: every 2nd
    * 256-byte frame, bounded tail frame. */
  def eMultimodalFrames(s: SparkSession, d: String): DataFrame = {
    val media = graft.multimodal.Multimodal.synthesizeMedia(
      Tables.documents(s, d))
    graft.multimodal.Multimodal.sampleFrames(media, everyN = 2)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(length(col("frame_bytes"))).cast("long").as("sampled_bytes"))
      .orderBy("media_id")
  }

  /** Perceptual-hash near-dup over the image slice of the synthesized media
    * table: 32-bit dHash fingerprints from the stub-decoded content,
    * multi-table Hamming-banded candidate pairs (the image analogue of
    * e_simhash_multitable — banded equi-join, never all-pairs), then one
    * row per image with its fingerprint and near-dup partner stats. The
    * per-media shape keeps the result non-empty (and the fingerprints
    * hash-checked) even when a scale factor happens to contain no
    * image-grain near-dups. */
  // Two queries (near-dup stats, cluster labels) read the same perceptual
  // fingerprints; memoize the compact materialized (media_id, phash,
  // ph_long) table per sfDir — the decode + staged hashing runs once.
  private val phashFingerprints = memos("phashFingerprints",
    "e_phash_clusters", "e_phash_neardup") { (s, d) =>
    val media = graft.multimodal.Multimodal.synthesizeMedia(
        Tables.documents(s, d)).toDF()
      .filter(col("media_type") === "image")
    Dedup.materializeAndRelease(
      graft.multimodal.Multimodal.perceptualHash(media, PhBits))
  }

  def ePhashNeardup(s: SparkSession, d: String): DataFrame = {
    val fp = phashFingerprints(s, d)
    val pairs = graft.multimodal.Multimodal.perceptualNearDupPairsFromHashes(
      fp, PhBits, PhPrefix, PhMaxHamming, PhTables)
    val partners = pairs
      .select(col("media_a").as("media_id"), col("hamming"))
      .unionAll(pairs.select(col("media_b").as("media_id"), col("hamming")))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_neardup"), min(col("hamming")).as("min_hamming"))
    fp.join(partners, Seq("media_id"), "left")
      .select(col("media_id"), col("phash"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        coalesce(col("min_hamming"), lit(-1L)).as("min_hamming"))
      .orderBy("media_id")
  }

  /** Audio near-dup by segment hashing: the audio slice of the media table
    * splits into fixed 128-byte segments of the stub-decoded stream, each
    * segment carries its own 32-bit difference-code fingerprint, and the
    * SAME multi-table Hamming banding that serves SimHash and pHash finds
    * matching segment pairs across recordings (time-shift robust: a clip
    * shared at any offset still aligns on some segment). Output is one
    * row per audio record with its segment count and cross-media match
    * stats — non-empty at every scale factor even when no near-dups
    * exist. Work ∝ Σ bucket² per rotation table, never segments². */
  def eAudioNeardup(s: SparkSession, d: String): DataFrame =
    segmentNeardupStats(audioFps(s, d), AudioKeyMod, AudioMaxHamming)

  // audio/video fingerprint tables: single consumer each, memos so the
  // checkpoint blocks release right after their query instead of
  // pressuring storage/GC for the rest of the suite. Materialized before
  // fanning out (3 consumers: segment counts, both banded join sides) —
  // beyond the recompute, the UN-truncated lineage (33 md5 cells × staged
  // projections UNDER a self-join) costs the optimizer ~50 s of
  // driver-side analysis; the image path has the same boundary via its
  // memo (measured, round 11)
  private val audioFps = memos("audioFps", "e_audio_neardup") { (s, d) =>
    val audio = graft.multimodal.Multimodal.synthesizeMedia(
        Tables.documents(s, d)).toDF()
      .filter(col("media_type") === "audio")
    Dedup.materializeAndRelease(
      graft.multimodal.Multimodal.audioSegmentHashes(
        audio, AudioSegBytes, PhBits, AudioKeyMod))
  }
  private val videoFps = memos("videoFps", "e_video_neardup") { (s, d) =>
    val video = graft.multimodal.Multimodal.synthesizeMedia(
        Tables.documents(s, d))
      .filter(col("media_type") === "video")
    Dedup.materializeAndRelease(
      graft.multimodal.Multimodal.videoFrameHashes(
        video, VideoEveryN, PhBits, AudioKeyMod))
  }

  /** Video near-dup by sampled-frame hashing — the third modality through
    * the shared banding stack: every 2nd 256-byte "frame" of the
    * stub-decoded stream carries its own 32-bit difference hash
    * ([[graft.multimodal.Multimodal.videoFrameHashes]]); matching frame
    * pairs across videos band through the same rotated-prefix equi-join
    * as SimHash/pHash/audio. Shot-level matching: a reused clip aligns on
    * some sampled frame even after re-cuts. Same output shape and
    * materialization boundary as [[eAudioNeardup]]. */
  def eVideoNeardup(s: SparkSession, d: String): DataFrame =
    segmentNeardupStats(videoFps(s, d), AudioKeyMod, AudioMaxHamming)

  /** Shared per-media rollup of a segment/frame fingerprint table
    * (media_id, seg_idx, seg_key, phash, ph_long): banded segment pairs →
    * one row per media with head fingerprint and cross-media match stats.
    * Serves the audio (contiguous segments) and video (sampled frames)
    * near-dup queries. */
  private def segmentNeardupStats(fps: DataFrame, keyMod: Long,
                                  maxHamming: Int): DataFrame = {
    // seg_idx 0 always survives the length guard (both producers keep a
    // record's first window unconditionally), so it is the head everywhere
    val segCounts = fps.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_segments"),
        min(when(col("seg_idx") === 0, col("phash"))).as("head_phash"))
    val pairs = Dedup.simhashPairsMultiTableFromFingerprints(
      fps.select(col("seg_key").as("doc_id"), col("phash").as("simhash"),
        col("ph_long").as("sh_long")),
      PhBits, PhPrefix, maxHamming, PhTables)
    // both directions, segment keys unpacked back to media; same-media
    // segment echoes (adjacent near-identical windows) are not near-DUPS
    val dir = pairs
      .select(col("doc_a").as("k_self"), col("doc_b").as("k_other"), col("hamming"))
      .unionAll(pairs
        .select(col("doc_b").as("k_self"), col("doc_a").as("k_other"), col("hamming")))
      .select(floor(col("k_self") / keyMod).cast("long").as("media_id"),
        floor(col("k_other") / keyMod).cast("long").as("partner"),
        col("hamming"))
      .filter(col("media_id") =!= col("partner"))
    val stats = dir.groupBy(col("media_id"))
      .agg(countDistinct(col("partner")).as("n_partners"),
        count(lit(1)).as("n_seg_matches"),
        min(col("hamming")).as("min_hamming"))
    segCounts.join(stats, Seq("media_id"), "left")
      .select(col("media_id"), col("head_phash"), col("n_segments"),
        coalesce(col("n_partners"), lit(0L)).as("n_partners"),
        coalesce(col("n_seg_matches"), lit(0L)).as("n_seg_matches"),
        coalesce(col("min_hamming"), lit(-1L)).as("min_hamming"))
      .orderBy("media_id")
  }

  /** Image dedup CLUSTERS: true connected components over the perceptual
    * near-dup pair graph — the label table a multimodal curation pass
    * consumes (pick one representative per cluster), composing the image
    * modality into the same CC machinery as the text near-dup path. */
  def ePhashClusters(s: SparkSession, d: String): DataFrame = {
    val fp = phashFingerprints(s, d)
    val pairs = graft.multimodal.Multimodal.perceptualNearDupPairsFromHashes(
        fp, PhBits, PhPrefix, PhMaxHamming, PhTables)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    Dedup.connectedComponents(pairs, fp.select(col("media_id").as("doc_id")),
        "doc_id")
      .select(col("doc_id").as("media_id"), col("cluster_id"))
      .orderBy("media_id")
  }

  /** Cosine near-dup pairs over the FULL embeddings table — banded sign-LSH
    * candidates (NearDupBandBits × NearDupBands), exact re-score, threshold
    * filter. No all-pairs cross product anywhere in the plan
    * (PlanAssertionsSpec enforces this). */
  def eCosineNeardup(s: SparkSession, d: String): DataFrame =
    cosineNearDupMemo(s, d).orderBy("id_a", "id_b")

  // thresholded banded-LSH cosine pair table, shared by e_cosine_neardup
  // and e_mutual_neighbors
  private val cosineNearDupMemo = memos("cosineNearDupPairs",
    "e_cosine_neardup", "e_mutual_neighbors") {
    (s, d) => Dedup.materializeAndRelease(
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", threshold = NearDupThreshold,
        bandBits = NearDupBandBits, nBands = NearDupBands))
  }

  /** Reciprocal-best merge partners over the banded sign-LSH candidate
    * pairs: (a, b) survives only when each is the other's
    * highest-cosine partner — the mutual-NN cut that turns a noisy
    * near-dup candidate list into unambiguous canonical merges (a hub
    * doc similar to twenty others mutual-matches at most one). Argmax is
    * a min-struct aggregation (no window); the best table is one row per
    * id before its self-equi-join. */
  def eMutualNeighbors(s: SparkSession, d: String): DataFrame =
    Similarity.mutualBestPairs(cosineNearDupMemo(s, d))
      .orderBy("id_a", "id_b")

  // production-width simhash (e_simhash_wide): the probe-flagged knob
  // demonstrated — 48 fingerprint bits / 16 prefix bits give 2^16
  // buckets (256× the 16/8 layout's), so 100× the corpus keeps bucket
  // occupancy cold; same plan shape, parameters only
  private val SimWideBits = 48
  private val SimWidePrefix = 16

  /** The SimHash family at PRODUCTION parameterization: same operator
    * ([[Dedup.simhashPairs]]), [[SimWideBits]]-bit fingerprints bucketed
    * on a [[SimWidePrefix]]-bit prefix — the concrete answer to "16-bit
    * fingerprints go quadratic at 10×": bits/prefix grow with
    * log(corpus) and the equi-join's Σ bucket² work stays flat. Hamming
    * is still one xor+popcount on the parsed long (48 ≤ 56 usable
    * bits). */
  def eSimhashWide(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
        bits = SimWideBits, prefixBits = SimWidePrefix, maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  /** Per-doc token-distribution entropy: H = ln n − (Σ c·ln c)/n over
    * the doc's token counts, plus the ln(n_distinct)-normalized form —
    * the compression-ratio proxy quality signal (templated/spammy text
    * sits far below natural text's entropy; the n-gram repetition filter
    * sees REPEATED PHRASES, entropy sees skewed token MASS even without
    * phrase structure). Fully in-row over the ≤100-token array — one
    * scan, no shuffle. */
  def eTextEntropy(s: SparkSession, d: String): DataFrame = {
    val countsExpr =
      """transform(array_distinct(unicode_tokens(text)),
        |  t -> CAST(size(filter(unicode_tokens(text), x -> x = t)) AS DOUBLE))""".stripMargin
    val n = size(graft.functions.TextAnalysis.unicodeTokens(col("text"))).cast("double")
    val sumClnC = expr(
      s"aggregate($countsExpr, 0.0D, (acc, c) -> acc + c * ln(c))")
    val nDistinct = size(array_distinct(graft.functions.TextAnalysis.unicodeTokens(col("text")))).cast("double")
    val h = log(n) - sumClnC / n
    Tables.documents(s, d).select(
        col("doc_id"), n.cast("long").as("n_tokens"),
        nDistinct.cast("long").as("n_distinct"),
        round(h, 6).as("entropy"),
        round(when(nDistinct > 1, h / log(nDistinct)).otherwise(lit(0.0)), 6)
          .as("norm_entropy"))
      .orderBy("doc_id")
  }

  /** Gopher-style rule battery (Rae et al. 2021 §A1.1, thresholds
    * re-centered on this corpus so every rule has live signal): word
    * count bounds, mean-word-length band, distinct-word ratio floor
    * (repetition), required-stopword presence, top-token share cap
    * (single-token spam). One corpus scan computes every flag in-row
    * (the top-token share is an in-row O(distinct·n) fold over the ≤100
    * token array — no shuffle); the report unpivots per-rule failure
    * counts via stack, plus the any-rule row a curator reads first. */
  def eGopherRules(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextAnalysis.unicodeTokens(col("text"))
    val nW = size(toks).cast("double")
    val meanWlen = length(regexp_replace(trim(col("text")), " ", "")) / nW
    val distinctRatio = size(array_distinct(toks)) / nW
    val stopList = "'the','be','to','of','and','that','have','with'"
    val nStop = expr(
      s"size(array_distinct(filter(unicode_tokens(text), x -> x IN ($stopList))))")
    val topShare = expr(
      """array_max(transform(array_distinct(unicode_tokens(text)),
        |  t -> size(filter(unicode_tokens(text), x -> x = t))))""".stripMargin)
      .cast("double") / nW
    val flagged = Tables.documents(s, d).select(
      (nW < 12 || nW > 80).cast("long").as("f_wordcount"),
      (meanWlen < 3.8 || meanWlen > 5.2).cast("long").as("f_wordlen"),
      (distinctRatio < 0.35).cast("long").as("f_repetition"),
      (nStop < 1).cast("long").as("f_stopwords"),
      (topShare > 0.2).cast("long").as("f_topshare"))
    val agg = flagged.agg(
      count(lit(1)).as("n_docs"),
      sum(col("f_wordcount")).as("wordcount"),
      sum(col("f_wordlen")).as("wordlen"),
      sum(col("f_repetition")).as("repetition"),
      sum(col("f_stopwords")).as("stopwords"),
      sum(col("f_topshare")).as("topshare"),
      sum((col("f_wordcount") + col("f_wordlen") + col("f_repetition") +
        col("f_stopwords") + col("f_topshare") > 0).cast("long")).as("any_rule"))
    val rules = Seq("wordcount", "wordlen", "repetition", "stopwords",
      "topshare", "any_rule")
    val stackArgs = rules.map(r => s"'$r', `$r`").mkString(", ")
    agg.select(col("n_docs"),
        expr(s"stack(${rules.length}, $stackArgs) AS (rule, n_fail)"))
      .select(col("rule"), col("n_docs"), col("n_fail"),
        round(col("n_fail").cast("double") / col("n_docs"), 6).as("fail_rate"))
      .orderBy("rule")
  }

  // elbow sweep (e_elbow_curve): deterministic seed-centroid slices —
  // vec_id % m == 1 gives corpus-proportional k at each density
  private val ElbowMods = Seq(125L, 50L, 25L)

  /** The choose-k elbow curve: within-cluster inertia at three seed
    * densities (deterministic `vec_id % m == 1` centroid slices — k
    * scales with the corpus at each density, exactly like a production
    * √n-style heuristic). One zero-exchange assignment pass per k (the
    * same native argmin as every k-means query; no Lloyd iterations —
    * the elbow compares SEED densities, refinement happens after k is
    * chosen). Inertia sums are ~1e6-magnitude doubles rounded at 6 dp,
    * far above both engines' reorder noise. */
  def eElbowCurve(s: SparkSession, d: String): DataFrame = {
    val vecs = Tables.embeddings(s, d)
    ElbowMods.map { m =>
      val assigned = graft.similarity.KMeans.assignments(
        vecs, "vec_id", "embedding", col("vec_id") % m === 1, iterations = 1)
      val k = vecs.filter(col("vec_id") % m === 1)
        .agg(count(lit(1)).as("k_centroids"))
      assigned.agg(count(lit(1)).as("n_vectors"),
          round(sum(col("d2")), 6).as("inertia"))
        .crossJoin(broadcast(k))
        .select(col("k_centroids"), col("n_vectors"), col("inertia"),
          round(col("inertia") / col("n_vectors"), 6).as("mean_d2"))
    }.reduce(_ unionByName _)
      .orderBy("k_centroids")
  }

  // prefix-filtering join threshold as an exact rational (t = 1/2)
  private val PpjTNum = 1L
  private val PpjTDen = 2L

  /** Exact Jaccard ≥ 1/2 near-dup pairs via prefix filtering
    * (AllPairs/PPJoin) — the ZERO-false-negative complement to the
    * banded MinHash path: candidates come from an equi-join on each
    * set's df-rarest prefix shingles (a qualifying pair provably shares
    * one), then verify exactly. Rides the shared shingle memo. */
  def ePrefixJoin(s: SparkSession, d: String): DataFrame =
    prefixJoinMemo(s, d).orderBy("doc_a", "doc_b")

  // exact prefix-filtering pair table, shared by e_lsh_recall,
  // e_lsh_recall_sweep and e_prefix_join
  private val prefixJoinMemo = memos("prefixJoinPairs",
    "e_lsh_recall", "e_lsh_recall_sweep", "e_prefix_join") {
    // the PPJoin verification stage does ~100 bytes of CPU
    // (array_intersect over doc-sized sorted sets) per byte of shuffle
    // input — AQE's byte-based 1 MB merge floor folded it to 4 tasks on
    // a 32-core session (0.94 s job). Lower the floor around the
    // build's EXECUTION (AQE reads conf at execution, so the scope must
    // wrap the materialization, not the lazy plan); inert at scale,
    // where every partition exceeds any floor.
    (s, d) => graft.operators.LoopConf.scopedCpuDense(s) {
      Dedup.materializeAndRelease(
        Dedup.prefixFilterJoin(
          docShingleBases(s, d).select(col("doc_id"), col("b1").as("sh")),
          PpjTNum, PpjTDen))
    }
  }

  /** Embedding-space source similarity: pairwise cosine between
    * per-source centroid embeddings — which feeds cover the same
    * semantic region, the semantic counterpart to `e_source_jaccard`'s
    * token-set overlap (a pair can token-overlap near 0 yet sit in the
    * same embedding region — translations, paraphrase mirrors). One
    * per-dimension mean aggregation (sources × dims bounded), pair work
    * sources²-bounded. */
  def eSourceCentroids(s: SparkSession, d: String): DataFrame =
    Similarity.groupCentroidSimilarity(
        Tables.embeddings(s, d).join(
          Tables.documents(s, d).select(col("doc_id").as("vec_id"), col("source")),
          Seq("vec_id")),
        "source", "embedding")
      .orderBy("src_a", "src_b")

  def eTextLangid(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang").as("labeled"),
        TextAnalysis.langId(col("text")).as("predicted"))
      .withColumn("matches_label", col("predicted") === col("labeled"))
      .orderBy("doc_id")

  // b-bit minwise hashing (e_bbit_minhash): retained low bits per slot
  private val BbitLevels = Seq(1, 2, 4, 8)

  /** b-bit minwise hashing calibration (Li & König 2010): keep only the
    * low b bits of each of the K signature slots — signature storage
    * shrinks 56/b× — and recover Jaccard through the collision
    * correction Ĵ = (m − 2⁻ᵇ)/(1 − 2⁻ᵇ). Reports, per b ∈ {1,2,4,8},
    * the mean |Ĵᵇ − Ĵ⁵⁶| and bias against the full-width estimate over
    * the candidate pairs — the sketch-bandwidth tuning table next to
    * `e_minhash_calibration`'s estimator-vs-truth one. Per-pair errors
    * aggregate as exact ·10⁶ integers so the means are FP-order-free.
    * Rides the shared shingle + pair memos, name-ordered before their
    * release points. */
  def eBbitMinhash(s: SparkSession, d: String): DataFrame = {
    val sigs = Dedup.minhashSignaturesFromBases(docShingleBases(s, d), K)
    val sa = sigs.toDF(sigs.columns.map(c =>
      if (c == "doc_id") "doc_a" else s"a_$c").toIndexedSeq: _*)
    val sb = sigs.toDF(sigs.columns.map(c =>
      if (c == "doc_id") "doc_b" else s"b_$c").toIndexedSeq: _*)
    val joined = minhashPairs(s, d)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
    val errCols = BbitLevels.flatMap { b =>
      val mask = (1L << b) - 1
      val matches = (0 until K).map(i =>
        when(col(s"a_h$i").bitwiseAND(lit(mask)) ===
          col(s"b_h$i").bitwiseAND(lit(mask)), 1).otherwise(0)).reduce(_ + _)
      val c = 1.0 / (1L << b)
      val est = (matches.cast("double") / K - lit(c)) / lit(1.0 - c)
      Seq(round(abs(est - col("est_jaccard")) * 1e6).cast("long").as(s"ae_$b"),
        round((est - col("est_jaccard")) * 1e6).cast("long").as(s"se_$b"))
    }
    val aggs = count(lit(1)).as("n") +: BbitLevels.flatMap(b =>
      Seq(sum(col(s"ae_$b")).as(s"sae_$b"), sum(col(s"se_$b")).as(s"sse_$b")))
    val one = joined.select(errCols: _*).agg(aggs.head, aggs.tail: _*)
    val stackArgs = BbitLevels
      .map(b => s"CAST($b AS BIGINT), `sae_$b`, `sse_$b`").mkString(", ")
    one.select(col("n"),
        expr(s"stack(${BbitLevels.length}, $stackArgs) AS (b, sae, sse)"))
      .select(col("b"), col("n").as("n_pairs"),
        round(col("sae").cast("double") / col("n") / 1e6, 6).as("mean_abs_err"),
        round(col("sse").cast("double") / col("n") / 1e6, 6).as("bias"))
      .orderBy("b")
  }

  /** Join-key skew report: per key family, total rows / distinct keys /
    * heaviest key / skew factor (max over mean key occupancy) — the
    * pre-flight read before choosing a join strategy (skew ≈ 1 → plain
    * shuffle join; ≫ 1 → salt the hot keys via [[graft.operators.SkewJoin]]
    * or lean on AQE's skew split). One map-side-combined count per
    * family, then a one-row summary each — the report is #families
    * rows. */
  def eSkewReport(s: SparkSession, d: String): DataFrame = {
    def family(df: DataFrame, keyCol: String, label: String): DataFrame =
      df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_key_rows"))
        .select(lit(label).as("family"), col("n_rows"), col("n_keys"),
          col("max_key_rows"),
          round(col("max_key_rows").cast("double") * col("n_keys") / col("n_rows"), 6)
            .as("skew_factor"))
    family(Tables.lineitem(s, d), "l_orderkey", "lineitem.l_orderkey")
      .unionByName(family(Tables.orders(s, d), "o_custkey", "orders.o_custkey"))
      .unionByName(family(Tables.events(s, d), "user_id", "events.user_id"))
      .orderBy("family")
  }

  /** Language-ID confusion matrix: labeled × predicted counts with
    * per-cell recall share — the eval grid behind `e_text_langid`'s
    * per-doc verdicts (which language pairs the n-gram heuristic
    * actually confuses, the read that decides whether to raise the
    * classifier's evidence floor). Language domain bounded → the matrix
    * is |langs|²; one scan + one map-side-combined aggregation. */
  def eLangConfusion(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("lang").as("labeled"),
        TextAnalysis.langId(col("text")).as("predicted"))
    val totals = scored.groupBy("labeled").agg(count(lit(1)).as("n_labeled"))
    scored.groupBy("labeled", "predicted").agg(count(lit(1)).as("n"))
      .join(broadcast(totals), Seq("labeled"))
      .select(col("labeled"), col("predicted"), col("n"),
        round(col("n").cast("double") / col("n_labeled"), 6).as("share"))
      .orderBy("labeled", "predicted")
  }

  /** Token-distribution drift report — the monitoring read between two
    * corpus slices (here the DSIR convention: lang='en' vs the rest):
    * add-1-smoothed unigram distributions over the union vocabulary, and
    * the per-token Jensen-Shannon divergence contribution, top
    * DriftTopK. The production use: run between yesterday's corpus and
    * today's ingest — a spiking token is the first symptom of a scraper
    * change, a spam wave, or an upstream re-encode. One corpus count
    * scan; totals broadcast as a one-row frame; TakeOrdered cut. */
  def eDistDrift(s: SparkSession, d: String): DataFrame = {
    val counts = distDriftCounts(s, d)
    val tr = counts.agg(sum(col("ca")), sum(col("cb")), count(lit(1))).head()
    // (ta + v) / (tb + v) as literal longs — the same integer sums the
    // oracle's scalar subquery forms, so the double arithmetic below is
    // order-identical in both engines
    val taV = tr.getLong(0) + tr.getLong(2)
    val tbV = tr.getLong(1) + tr.getLong(2)
    val p = (col("ca") + 1.0) / lit(taV)
    val q = (col("cb") + 1.0) / lit(tbV)
    val m = (p + q) / 2.0
    val contrib = (p * log(p / m) + q * log(q / m)) / 2.0
    counts
      .select(col("token"), round(p, 6).as("p_en"), round(q, 6).as("p_rest"),
        round(contrib, 6).as("js_contrib"))
      .orderBy(desc("js_contrib"), asc("token")).limit(DriftTopK)
  }

  // the vocabulary-sized count table, materialized ONCE: the totals read
  // and the contribution scan both consume it — a broadcast-subtree
  // totals frame would re-run the corpus explode+aggregate a second
  // time. A memo (storage/GC pressure from untracked checkpoints
  // measurably inflates later suite queries).
  private val distDriftCounts = memos("distDriftCounts", "e_dist_drift") { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("lang"), explode(graft.functions.TextAnalysis.unicodeTokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    Dedup.materializeAndRelease(
      toks.groupBy(col("token"))
        .agg(count(when(col("lang") === "en", 1)).as("ca"),
          count(when(col("lang") =!= "en", 1)).as("cb")))
  }

  /** Vocabulary growth curve (Heaps' law, the tokenizer/vocab-planning
    * read) at word W-gram grain: docs in id order are cut into
    * VocabGrowthBuckets equal-width buckets; each bucket reports how many
    * NEVER-SEEN-BEFORE distinct W-grams it introduces, plus the running
    * total. A gram's introduction bucket is the bucket of its minimum
    * doc_id — one shingle explode (native, hashed to a compact 56-bit
    * key), one map-side-combined min aggregation, one bounded-bucket
    * count; the running sum windows over ≤ VocabGrowthBuckets rows. */
  def eVocabGrowth(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // bucket width from the id span — driver scalar, both engines
    // compute it identically
    val width = math.ceil((docs.agg(max(col("doc_id"))).head().getLong(0) + 1)
      / VocabGrowthBuckets.toDouble).toLong
    // rides the shared per-doc-distinct shingle memo (its b1 IS the
    // oracle's 56-bit hash; min(doc_id) over per-doc-distinct rows equals
    // min over all instances) — no second corpus explode+hash pass
    val firsts = docShingleBases(s, d)
      .select(col("doc_id"), col("b1").as("gh"))
      .groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
    val perBucket = firsts
      .groupBy(floor(col("first_doc") / width).as("bucket"))
      .agg(count(lit(1)).as("new_grams"))
    perBucket
      // the cumulative window reads a VocabGrowthBuckets-bounded frame
      // (≤ one row per bucket), so one partition is the CORRECT plan —
      // Spark 4.1's EliminateWindowPartitions folds the lit(0) key away
      // and logs its unpartitioned-window warning; that warning is
      // acceptable here precisely because the input is bounded
      .withColumn("cum_grams", sum(col("new_grams")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0)).orderBy(col("bucket"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .orderBy("bucket")
  }

  /** Out-of-vocabulary rate per document against the OovVocabSize most
    * frequent tokens (count desc, token asc tie-break) — the coverage
    * meter a fixed-vocab tokenizer deployment reads before committing to
    * a vocabulary. The vocab head is a TakeOrdered (never a full
    * vocabulary sort) and broadcasts into the per-doc membership probe. */
  def eOovRate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs
      .select(col("doc_id"), explode(graft.functions.TextAnalysis.unicodeTokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(OovVocabSize)
      .select(col("token"))
    toks.join(broadcast(vocab.withColumn("__in", lit(1L))), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** Code-switching / mixed-language profile: language-ID per
    * non-overlapping CsSegTokens-token segment, then per doc the dominant
    * language (max segment count, alphabetical tie-break), its share, the
    * distinct non-'und' language count, and the number of adjacent-segment
    * language switches — the curation signal that separates genuinely
    * multilingual documents from mislabeled or concatenation-garbage ones
    * (a whole-doc langId averages the mixture away).
    *
    * Scale shape: the segment explode is in-row (sequence/slice — token
    * arrays never re-join/re-split); language scoring is a per-segment
    * codegen membership probe; the doc-grain aggregations and the one
    * lag window all partition by doc_id — nothing global. */
  def eCodeSwitch(s: SparkSession, d: String): DataFrame = {
    val w = CsSegTokens
    val toks = graft.functions.TextAnalysis.unicodeTokens(col("text"))
    val nSeg = greatest(ceil(size(toks).cast("double") / w).cast("int"), lit(1))
    val segs = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nSeg - 1),
          i => slice(toks, i * w + 1, lit(w)))).as(Seq("pos", "seg")))
      .select(col("doc_id"), col("pos"),
        TextAnalysis.langIdFromToks(col("seg")).as("lg"))
    val counts = segs.groupBy(col("doc_id"), col("lg"))
      .agg(count(lit(1)).as("c"))
    // min(struct(-c, lg)) = max count, alphabetically-first tie-break
    val dom = counts.groupBy(col("doc_id"))
      .agg(min(struct((-col("c")).as("nc"), col("lg"))).as("d"),
        sum(col("c")).as("n_segments"),
        count(when(col("lg") =!= "und", 1)).as("n_langs"))
    val switches = segs
      .withColumn("plg", lag(col("lg"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("plg").isNotNull)
      .groupBy(col("doc_id"))
      .agg(count(when(col("lg") =!= col("plg"), 1)).as("n_switches"))
    dom.join(switches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"), col("n_langs"),
        col("d.lg").as("dominant_lang"),
        round((-col("d.nc")).cast("double") / col("n_segments"), 6)
          .as("dominant_share"),
        coalesce(col("n_switches"), lit(0L)).as("n_switches"))
      .orderBy("doc_id")
  }

  def eTextQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TextAnalysis.unicodeTokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality_score"))
      .orderBy("doc_id")

  /** Per-language quality threshold: keep the top 30% of each language's
    * docs by the quality score — exact per-group quantile semantics via
    * the histogram cut (no per-group corpus window; a global threshold
    * would let the dominant language eat the budget). */
  def eQualityCut(s: SparkSession, d: String): DataFrame = {
    val q = TextAnalysis.qualityScore(col("text"))
    graft.operators.GroupQuantileCut(
        Tables.documents(s, d).withColumn("quality_score", q),
        "doc_id", "lang", col("quality_score"), frac = 0.3)
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .orderBy("doc_id")
  }

  // Two queries (merge induction, tokenizer apply) share the learned merge
  // table; it is a driver-side Seq of BpeMerges rows — no Spark blocks to
  // release, the value is just dropped.
  private val bpeMerges = memos("bpeMerges",
    "e_bpe_encode", "e_bpe_fertility", "e_bpe_merges") {
    // round 13: the graded path trains on the UNICODE word table
    // (NFKC + `[\p{L}\p{N}]+`, lowercased) — on this all-lowercase
    // ASCII corpus it extracts exactly the `[a-z]+` words, and on a
    // real multilingual corpus it stops dropping every non-ASCII word
    (s, d) => graft.functions.BpeVocab.train(
      graft.functions.BpeVocab.wordCountsUnicode(Tables.documents(s, d), "text"),
      BpeMerges)
  }

  /** BPE vocabulary induction: the first `BpeMerges` learned merge rules
    * over the corpus word frequencies — the tokenizer-training artifact.
    * Every round is a bounded-vocabulary aggregation; see
    * [[graft.functions.BpeVocab]] for the scale shape. */
  def eBpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, d).toDF()
      .select(col("merge_idx"), col("pair"), col("merged"), col("pair_count"))
      .orderBy("merge_idx")
  }

  /** Tokenizer APPLY: per-doc BPE token counts under the corpus-learned
    * merges — encode runs on the DISTINCT vocabulary (one codegen fold of
    * literal replaces, work ∝ vocab) and equi-joins back to the token
    * stream; compression = n_bpe_tokens / n_chars is the signal a
    * tokenizer-fit report reads. */
  def eBpeEncode(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d)
    val words = Tables.documents(s, d).select(col("doc_id"),
      explode(transform(graft.functions.TextAnalysis.unicodeTokens(col("text")),
        t => lower(t))).as("word"))
    val vocab = words.select(col("word")).distinct()
      .withColumn("nt",
        size(graft.functions.BpeVocab.tokensCol(col("word"), merges))
          .cast("long"))
    words.join(vocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  // decontamination width sweep (e_decontam_sweep)
  private val DecontamWidths = Seq(3, 5, 9, 13)

  /** Contamination rate vs n-gram width — the table behind the industry
    * "13-gram" convention (GPT-3 appendix C): at narrow widths shared
    * phrases flag almost everything (false contamination), at 13 only
    * real benchmark overlap survives; the sweep shows where THIS corpus's
    * curve bends instead of cargo-culting the constant. Per width: one
    * shingle explode (native word-shingles), the bench slice's distinct
    * shingle set, and a semi-join hit count — work ∝ corpus × widths. */
  def eDecontamSweep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nCorpus = docs.filter(col("doc_id") % 97 =!= 0)
      .agg(count(lit(1)).as("n_corpus_docs"))
    DecontamWidths.map { w =>
      val bases = Dedup.shingleBases(docs, "doc_id", "text", w)
        .select(col("doc_id"), col("b1").as("sh"))
      val bench = bases.filter(col("doc_id") % 97 === 0)
        .select(col("sh")).distinct()
      val hits = bases.filter(col("doc_id") % 97 =!= 0)
        .join(bench, Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
      hits.agg(count(lit(1)).as("n_docs_hit"))
        .crossJoin(bench.agg(count(lit(1)).as("n_bench_shingles")))
        .select(lit(w.toLong).as("ngram_width"), col("n_bench_shingles"),
          col("n_docs_hit"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(nCorpus))
      .select(col("ngram_width"), col("n_bench_shingles"), col("n_docs_hit"),
        col("n_corpus_docs"),
        round(col("n_docs_hit").cast("double") / col("n_corpus_docs"), 6)
          .as("contaminated_share"))
      .orderBy("ngram_width")
  }

  /** Tokenizer fertility per language: BPE pieces per word under the
    * trained merge table — THE tokenizer-equity metric (a language at
    * fertility 2× pays twice the context budget per word; the number
    * that decides whether the vocabulary needs rebalancing before
    * training). Rides the bpeMerges build; same encode chain as
    * `e_bpe_encode`, aggregated to the language grain. */
  def eBpeFertility(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMerges(s, d)
    val words = Tables.documents(s, d).select(col("lang"),
      explode(transform(graft.functions.TextAnalysis.unicodeTokens(col("text")),
        t => lower(t))).as("word"))
    val vocab = words.select(col("word")).distinct()
      .withColumn("nt",
        size(graft.functions.BpeVocab.tokensCol(col("word"), merges))
          .cast("long"))
    words.join(vocab, Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_pieces"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
        round(col("n_pieces").cast("double") / col("n_words"), 6).as("fertility"))
      .orderBy("lang")
  }

  /** Dedup survivor curve: pairs and removed-doc counts at every
    * est-Jaccard threshold in 10-point steps — the knob-tuning table
    * read before fixing the dedup policy's threshold (too low deletes
    * paraphrases, too high keeps mirrors). ONE pass over the memoized
    * pair table with conditional aggregates per threshold, unpivoted
    * via stack. */
  def eDedupCurve(s: SparkSession, d: String): DataFrame = {
    val thresholds = Seq(50, 60, 70, 80, 90)
    val pairs = minhashPairs(s, d)
    val aggs = thresholds.flatMap { t =>
      val cond = col("est_jaccard") * 100 >= t
      Seq(sum(cond.cast("long")).as(s"np_$t"),
        countDistinct(when(cond, col("doc_b"))).as(s"nr_$t"))
    }
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val one = pairs.agg(aggs.head, aggs.tail: _*).crossJoin(broadcast(nDocs))
    // coalesce: over an EMPTY pair table the conditional sums are NULL
    // while the oracle's count(*) FILTER yields 0 — same guard as
    // eLshRecallSweep
    val stackArgs = thresholds
      .map(t => s"CAST($t AS BIGINT), coalesce(`np_$t`, 0), coalesce(`nr_$t`, 0)")
      .mkString(", ")
    one.select(col("n_docs"),
        expr(s"stack(${thresholds.length}, $stackArgs) AS (threshold_pct, n_pairs, n_removed)"))
      .select(col("threshold_pct"), col("n_pairs"), col("n_removed"),
        (col("n_docs") - col("n_removed")).as("n_survivors"))
      .orderBy("threshold_pct")
  }

  /** Per-cluster edge density (cohesion): direct high-confidence pairs
    * over the C(size, 2) possible — density ≈ 1 is a true clique
    * (mirror farm: drop whole cluster safely), low density means the
    * cluster exists only through CHAINED merges (paraphrase drift:
    * deleting all-but-one risks losing non-duplicates). The per-cluster
    * read behind `e_dup_triangles`' per-node view. Edges map onto
    * clusters via two id-keyed joins; multi-member clusters only. */
  def eClusterDensity(s: SparkSession, d: String): DataFrame = {
    val labels = nearDupClusters(s, d)
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .filter(col("size") >= 2)
    val edges = minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
      .join(labels.select(col("doc_id").as("doc_a"), col("cluster_id")), Seq("doc_a"))
      .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), Seq("doc_b"))
      .filter(col("cluster_id") === col("cb"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_edges"))
    sizes.join(edges, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("size"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        round(coalesce(col("n_edges"), lit(0L)).cast("double") * 2 /
          (col("size") * (col("size") - 1)), 6).as("density"))
      .orderBy("cluster_id")
  }

  /** Near-dup cluster size histogram: how many clusters of each size the
    * 3-round labeling produced — the shape read that separates "a few
    * mirror farms" (heavy tail) from "diffuse pairwise noise" (all 2s);
    * rides the nearDupClusters memo, two bounded aggregations. */
  def eCcSizes(s: SparkSession, d: String): DataFrame =
    nearDupClusters(s, d)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy("size")

  def eTokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.subwordCount(col("text")).as("subword_tokens"))
      .orderBy("doc_id")

  /** Readability report — the classic prose-difficulty quality signal
    * (Flesch reading ease + Flesch-Kincaid grade over the vowel-run
    * syllable heuristic). Counts are integer-exact; the two scores are
    * single-rounded functions of three integer ratios. Per-row codegen'd
    * column work, no shuffle. */
  def eReadability(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.unicodeTokenCount(col("text")).as("n_words"),
        TextAnalysis.sentenceCount(col("text")).as("n_sentences"),
        TextAnalysis.syllableCount(col("text")).as("n_syllables"),
        TextAnalysis.fleschReadingEase(col("text")).as("flesch"),
        TextAnalysis.fkGradeLevel(col("text")).as("fk_grade"))
      .orderBy("doc_id")

  /** Per-document Unicode-script mix (char counts per script class +
    * dominant script) — the routing profile a multilingual curation pass
    * reads before trusting a `lang` tag. All-ASCII grade data exercises
    * the Latin/none paths; CJK/Cyrillic behavior is spec-proven
    * (`TextAnalysisSpec`) since DuckDB's RE2 spells the same script
    * property differently. Per-row codegen'd regex counts, no shuffle. */
  def eScriptProfile(s: SparkSession, d: String): DataFrame = {
    val counts = TextAnalysis.scriptCounts(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id") +:
        length(col("text")).cast("long").as("n_chars") +:
        counts.map { case (n, c) => c.as(s"n_${n.toLowerCase}") } :+
        TextAnalysis.dominantScript(col("text")).as("dominant"): _*)
      .orderBy("doc_id")
  }

  /** Blocked words for the safety-gate query (fixture-meaningful tokens;
    * a real deployment broadcasts its lexicon) + gate knobs. */
  private val BlockedWords = Seq("slow", "dup")
  private val BlockMinHits = 5L
  private val BlockMaxRatio = 0.08

  /** Dolma/C4-style word-blocklist safety gate: per-doc blocked-token
    * hits, ratio, and the gate verdict as a FLAG column. */
  def eBlockwordGate(s: SparkSession, d: String): DataFrame =
    graft.functions.CorpusFilters.blockwordGate(Tables.documents(s, d),
        "doc_id", "text", BlockedWords, BlockMinHits, BlockMaxRatio)
      .orderBy("doc_id")

  /** Luhn-validated card-number PII: every 4th doc carries a VALID test
    * card, the next residue an INVALID card-shaped run — the checksum
    * must redact the first and leave the second (a regex-only pass
    * cannot tell them apart). Integer counts + md5 of the redacted text:
    * bit-strict oracle. */
  def eLuhnPii(s: SparkSession, d: String): DataFrame = {
    val withCard = Tables.documents(s, d).withColumn("t",
      concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" card 4532015112830366 end"))
          .when(col("doc_id") % 4 === 1, lit(" card 4532015112830367 end"))
          .otherwise(lit(""))))
    withCard.select(col("doc_id"),
        size(TextAnalysis.cardCandidates(col("t"))).cast("long")
          .as("n_candidates"),
        size(filter(TextAnalysis.cardCandidates(col("t")),
          c => TextAnalysis.luhnValid(c))).cast("long").as("n_valid"),
        md5(TextAnalysis.redactCards(col("t"))).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Bootstrap knobs: 100 Poisson replicas, ranks 3/98 ≈ a 95% CI. */
  private val BootReplicas = 100
  private val BootLoRank = 3
  private val BootHiRank = 98

  /** Poisson-bootstrap 95% CI for the corpus mean token count — the
    * uncertainty a scorecard should carry next to every point estimate
    * ([[graft.operators.Bootstrap]]; deterministic-by-hash replica
    * weights, integer-exact replica means). */
  def eBootstrapCi(s: SparkSession, d: String): DataFrame =
    graft.operators.Bootstrap.meanCi(
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("ws_tokens")),
      "doc_id", "ws_tokens", BootReplicas, BootLoRank, BootHiRank)

  /** Data-quality contract over the documents table — one verdict row
    * per declared expectation ([[graft.operators.Expectations]]); the
    * whole row-grain rule list costs one scan. */
  def eExpectations(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Expectations._
    check(Tables.documents(s, d), Seq(
      NotNull("text"), NotNull("lang"),
      InSet("lang", Seq("en", "es", "de", "fr", "zh")),
      InRange("n_chars", 1L, 10000L),
      Matches("source", "^src[0-9]+$"),
      Unique(Seq("doc_id"))))
  }

  /** Exact two-sample KS drift test on the token-count distribution
    * between even- and odd-id docs ([[graft.operators.StatTests]]):
    * D, the α=0.05 critical value, and the reject verdict — the
    * significance-grade sibling of the JS-divergence drift report. */
  def eKsDrift(s: SparkSession, d: String): DataFrame =
    graft.operators.StatTests.ksTest(
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens")),
      "ws_tokens", col("doc_id") % 2 === 0)

  /** Pearson chi-square independence of lang × source — "is language
    * balanced across feeds?" as a test statistic, domain-bounded. */
  def eChi2Independence(s: SparkSession, d: String): DataFrame =
    graft.operators.StatTests.chiSquare(
      Tables.documents(s, d), "lang", "source")

  /** Join-skew advisor over the orders fact table's customer key: the
    * topK heaviest keys, their skew ratio vs the mean key, and the salt
    * count [[graft.operators.SkewJoin.saltedInnerJoin]] would need to
    * spread each to mean-sized tasks. The per-KEY drill-down behind
    * [[eSkewReport]]'s per-family summary: the report says WHETHER a
    * family is skewed, this says WHICH keys and what salt fixes each.
    * Map-side-combined count + TakeOrdered head. */
  def eSkewAdvisor(s: SparkSession, d: String): DataFrame =
    graft.operators.SkewJoin.skewReport(
        Tables.read(s, d, "orders"), "o_custkey", topK = 10)
      .select(col("key").as("o_custkey"), col("cnt"), col("skew_ratio"),
        col("rec_salts"))

  /** Span-corruption knobs: a span of [[SpanCorrLen]] tokens is cut at
    * every [[SpanCorrEvery]]-th position starting at [[SpanCorrPhase]]. */
  private val SpanCorrEvery = 7
  private val SpanCorrPhase = 3
  private val SpanCorrLen = 3

  /** T5-style span-corruption (input, target) pretraining pairs —
    * deterministic-by-arithmetic spans, sentinel tokens, full strings
    * graded bit-exact ([[graft.functions.CorpusFilters.spanCorruption]]). */
  def eSpanCorruption(s: SparkSession, d: String): DataFrame =
    graft.functions.CorpusFilters.spanCorruption(Tables.documents(s, d),
        "doc_id", "text", SpanCorrEvery, SpanCorrPhase, SpanCorrLen)
      .orderBy("doc_id")

  /** Margin floor above which a disagreeing prediction counts as a
    * suspected label error (log-likelihood units). */
  private val LabelErrMargin = 10.0

  /** Confident-learning-lite label-error detection: held-out docs where
    * the trained router disagrees with the given label AND the score
    * margin (best class − labeled class) clears [[LabelErrMargin]] —
    * the suspect list a labeling audit reviews first. One scoreAll pass
    * + a per-doc argmax aggregation; the filter runs on the ROUNDED
    * margin in both engines. */
  def eLabelErrors(s: SparkSession, d: String): DataFrame = {
    val sc = nbScoreAll(s, d)
    sc.groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("neg"), col("class").as("cls")))
        .as("bst"),
        max(when(col("class") === col("lang"), col("score"))).as("s_label"))
      .select(col("doc_id"), col("lang"), col("bst.cls").as("pred_lang"),
        round(-col("bst.neg") - col("s_label"), 6).as("margin"))
      .filter(col("pred_lang") =!= col("lang") &&
        col("margin") >= LabelErrMargin)
      .orderBy("doc_id")
  }

  /** Split-conformal coverage target: keep the lowest-nonconformity 90%
    * of each language's calibration slice. */
  private val ConformalKeep = 0.9

  /** Per-(doc, lang) nonconformity of the NB router on the held-out
    * slice: best-class score − labeled-class score, ≥ 0, 6-dp rounded
    * (the conformal query's base; [[eLabelErrors]] computes the same
    * quantity inline because it also needs the argmax CLASS). */
  private def nbNonconformity(s: SparkSession, d: String): DataFrame = {
    val sc = nbScoreAll(s, d)
    sc.groupBy(col("doc_id"), col("lang"))
      .agg(max(col("score")).as("best"),
        max(when(col("class") === col("lang"), col("score"))).as("s_label"))
      .select(col("doc_id"), col("lang"),
        round(col("best") - col("s_label"), 6).as("nc"))
  }

  /** LSH planner knobs: hash budget per signature and the similarity
    * grid the detection curve is tabulated over. */
  private val LshPlanBudgets = Seq(12, 24)
  private val LshPlanGrid = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
  private val LshPlanTarget = 0.5

  /** Analytic LSH band planner — the design table a dedup deployment
    * reads BEFORE spending a single shuffle: for every (rows-per-band r,
    * bands b) split of each hash budget, the detection probability
    * 1 − (1 − t^r)^b across the similarity grid, the s-curve midpoint
    * (1/b)^(1/r), and its distance to the target threshold. The
    * empirical siblings (`e_lsh_recall`, `e_minhash_calibration`)
    * validate the chosen design; this derives the candidates. Pure
    * in-row math over a literal frame — zero scan of the corpus. */
  def eLshPlanner(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val combos = for {
      k <- LshPlanBudgets
      r <- 1 to k if k % r == 0
    } yield (k.toLong, r.toLong, (k / r).toLong)
    val base = combos.toDF("k_hashes", "rows_per_band", "bands")
    val grid = typedLit(LshPlanGrid)
    base
      .withColumn("midpoint",
        round(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")),
          6))
      .withColumn("target_gap",
        round(abs(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")) - LshPlanTarget), 6))
      .withColumn("t", explode(grid))
      .withColumn("p_detect",
        round(lit(1.0) - pow(lit(1.0) -
          pow(col("t"), col("rows_per_band")), col("bands")), 6))
      .select(col("k_hashes"), col("rows_per_band"), col("bands"),
        col("t"), col("p_detect"), col("midpoint"), col("target_gap"))
      .orderBy("k_hashes", "rows_per_band", "t")
  }

  /** Reliability-diagram bins (confidence deciles). */
  private val EceBins = 10

  /** Calibration audit (reliability diagram + ECE): per confidence
    * decile of the router's softmax-normalized top-class probability,
    * the average confidence vs the empirical accuracy, plus the
    * expected calibration error every bin contributes to — the audit
    * that decides whether "0.9 confident" may gate a corpus. Confidence
    * is 6-dp rounded BEFORE binning so the bin edges are FP-order
    * stable; bins are a domain-bounded aggregation off the memoized
    * score table. */
  def eCalibrationEce(s: SparkSession, d: String): DataFrame = {
    val sc = nbScoreAll(s, d)
    // softmax normalizer in two aggregations (best first, then
    // Σ exp(score − best) — numerically safe, window-free)
    val base = sc.groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("neg"), col("class").as("cls")))
        .as("bst"))
      // best IS the struct argmax's negated key — one aggregate, not two
      .select(col("doc_id"), col("lang"), (-col("bst.neg")).as("best"),
        col("bst.cls").as("pred"))
    val z = sc.join(base.select(col("doc_id"), col("best")), Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sum(exp(col("score") - col("best"))).as("z"))
    val conf = base.join(z, Seq("doc_id"))
      .select(col("lang"), col("pred"),
        round(lit(1.0) / col("z"), 6).as("p"))
      .select(col("lang"), col("pred"), col("p"),
        least(floor(col("p") * EceBins).cast("long"),
          lit(EceBins - 1L)).as("bin"))
    val bins = conf.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("p")), 6).as("avg_conf"),
        round(sum((col("pred") === col("lang")).cast("long"))
          .cast("double") / count(lit(1)), 6).as("accuracy"))
    // n_total off the ≤ EceBins bins frame — never a second pass of conf
    val total = bins.agg(sum(col("n")).as("n_total"))
    bins.crossJoin(broadcast(total))
      .select(col("bin"), col("n"), col("avg_conf"), col("accuracy"),
        round(abs(col("avg_conf") - col("accuracy")) *
          col("n").cast("double") / col("n_total"), 6).as("ece_term"))
      .orderBy("bin")
  }

  /** Split-conformal calibration + coverage check (Vovk et al.; the
    * "conformal prediction" recipe): the odd-id half of the held-out
    * slice calibrates a per-language nonconformity threshold (the
    * lowest-nc [[ConformalKeep]] fraction via [[graft.operators
    * .GroupQuantileCut]] — exact per-group quantile semantics WITHOUT a
    * per-group window; the monotone 1/(1+nc) map puts the score in its
    * [0,1] domain), and the even-id half reports empirical coverage
    * against that threshold — the guarantee audit a selective-prediction
    * deployment runs before trusting "90%". */
  def eConformalCoverage(s: SparkSession, d: String): DataFrame = {
    val nc = nbNonconformity(s, d)
    val cal = nc.filter(col("doc_id") % 2 === 1)
    val tst = nc.filter(col("doc_id") % 2 === 0)
    val kept = graft.operators.GroupQuantileCut(
      cal.withColumn("score", lit(1.0) / (lit(1.0) + col("nc"))),
      "doc_id", "lang", col("score"), frac = ConformalKeep)
    val thr = kept.groupBy(col("lang"))
      .agg(max(col("nc")).as("threshold"))
      .join(cal.groupBy(col("lang")).agg(count(lit(1)).as("n_cal")),
        Seq("lang"))
    tst.join(broadcast(thr), Seq("lang"))
      .groupBy(col("lang"), col("n_cal"), col("threshold"))
      .agg(count(lit(1)).as("n_test"),
        sum((col("nc") <= col("threshold")).cast("long")).as("n_covered"))
      .select(col("lang"), col("n_cal"),
        round(col("threshold"), 6).as("threshold"), col("n_test"),
        col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test"), 6)
          .as("coverage"))
      .orderBy("lang")
  }

  /** Fellegi-Sunter linkage weights fitted on the LSH candidate pairs:
    * the signature estimate labels each candidate (`est ≥ 0.5` = match,
    * the engine's dedup-apply convention), and three cheap field
    * comparisons (lang equal, source equal, |n_chars| within 10) get
    * their m/u probabilities and log-likelihood-ratio weights — the
    * table an entity-resolution scorer multiplies out. Rides the pair
    * memo; two narrow doc joins + one fields-bounded aggregation. */
  def eLinkageWeights(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val cmp = minhashPairs(s, d)
      .join(docs.select(col("doc_id").as("doc_a"), col("lang").as("la"),
        col("source").as("so_a"), col("n_chars").as("ca")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
        col("source").as("so_b"), col("n_chars").as("cb")), Seq("doc_b"))
      .select((col("est_jaccard") >= 0.5).as("is_match"),
        (col("la") === col("lb")).as("f_lang"),
        (col("so_a") === col("so_b")).as("f_source"),
        (abs(col("ca") - col("cb")) <= 10).as("f_len"))
    graft.dedup.RecordLinkage
      .fsWeights(cmp, "is_match", Seq("f_lang", "f_len", "f_source"))
      .orderBy("field")
  }

  /** Snapshot diff between two derived corpus versions: v1 drops the
    * `% 11` residue, v2 drops `% 13` and rewrites the `% 7` texts —
    * added / removed / modified must each surface exactly once.
    * Narrow (id, md5) projections before one full-outer id join
    * ([[graft.operators.CorpusDiff]]). */
  def eCorpusDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val v1 = docs.filter(col("doc_id") % 11 =!= 0)
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
    graft.operators.CorpusDiff.delta(v1, v2, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Transactional snapshot store end-to-end (round 13): three commits —
    * ingest, upsert (the e_corpus_diff rewrite rules), compaction — then
    * TIME TRAVEL back through every version and report each one's
    * logical aggregate. Proves as-of reads return the committed content
    * (v3's numbers equal v2's: compaction rewrote files, not rows), and
    * the whole chain rides ONE atomic-manifest protocol
    * ([[graft.storage.SnapshotStore]]; crash atomicity is spec territory,
    * `SnapshotStoreSpec`). The store builds in a scratch dir keyed on the
    * sfDir, wiped first — deterministic per run. */
  /** Fresh scratch table dir for a snapshot-store query, keyed on the
    * sfDir AND the Spark application id (plus a per-query tag), so
    * concurrent runs on the same sfDir — or a hashCode collision between
    * different sfDirs — can never wipe each other's store mid-query. */
  private def snapScratch(s: SparkSession, d: String, tag: String): String = {
    val root = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_snapshot_${tag}_${math.abs(d.hashCode.toLong)}_" +
        s.sparkContext.applicationId).getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(root)
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (hfs.exists(p)) hfs.delete(p, true)
    hfs.deleteOnExit(p) // app-id-keyed dirs must not accumulate across runs
    root
  }

  def eSnapshotAsof(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "asof")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 11 =!= 0), "ingest")
    store.commit(s, root,
      docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))),
      "upsert")
    store.compact(s, root, targetFileBytes = 4L * 1024 * 1024)
    store.versions(s, root).map { v =>
      val m = store.manifest(s, root, v)
      store.readAsOf(s, root, v)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
        .select(lit(v).as("version"), lit(m.operation).as("operation"),
          col("n_docs"), col("id_sum"), col("n_distinct_texts"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  /** Data-skipping read through the snapshot manifest (round 14): commit
    * the corpus, Z-ORDER it on (doc_id, n_chars), then answer a 2-d
    * range predicate via [[graft.storage.SnapshotStore.readAsOfWhere]] —
    * the manifest's per-file min/max stats prune the file list BEFORE
    * the parquet scan (file-grain skipping is what makes the committed
    * cluster layout pay off; the pruned-file-count plan assertion is
    * `SnapshotStoreSpec`'s business). The ANSWER must equal the plain
    * full-scan filter — which is exactly what the oracle computes. */
  def eSnapshotSkipping(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "skip")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      // a nullable derived column: null-count stats make its
      // IS NOT NULL leg prune at file grain (round 15)
      .withColumn("quality",
        when(col("doc_id") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("n_chars") % 100))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs, "ingest")
    val v = store.cluster(s, root, "doc_id", "n_chars", nFiles = 8)
    import graft.storage.SnapshotStore.FilePredicate._
    val pred = And(And(between("doc_id", 100L, 260L),
      between("n_chars", 50L, 2000L)), IsNotNull("quality"))
    store.readAsOfWhere(s, root, v, pred)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** SQL time travel (round 15): `VERSION AS OF` straight from `spark.sql`
    * over a `USING graft-snapshot` table — the parser hook
    * ([[graft.storage.SnapshotTimeTravelParser]]) pins the relation to
    * the asked version before the analyzer's v1 refusal can fire. Both
    * the travelled and the latest state aggregate in one result, graded
    * against the relational replay. */
  def eSnapshotTimeTravel(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "ttsql")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 11 =!= 0), "ingest")
    store.commit(s, root,
      docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))),
      "upsert")
    val tbl = s"graft_tt_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      s.sql(
        s"""SELECT 'v1' AS as_of, lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
           |FROM $tbl VERSION AS OF 1 GROUP BY lang
           |UNION ALL
           |SELECT 'latest', lang, CAST(count(*) AS BIGINT),
           |  CAST(count(DISTINCT md5(text)) AS BIGINT)
           |FROM $tbl GROUP BY lang
           |ORDER BY as_of, lang""".stripMargin)
      // spark.sql analyzes EAGERLY (Dataset.ofRows asserts analysis), so
      // the returned frame holds the resolved relation — the DROP below
      // only removes the catalog name, never the plan
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** RESTORE (round 15): ingest → corrupting delete → `restore` back to
    * v1 as a NEW commit (zero data copied — the manifest re-references
    * v1's immutable files), then one aggregate over the restored state
    * PLUS the still-readable intermediate version — the rollback story a
    * bad pipeline release needs, oracled end to end. */
  def eSnapshotRestore(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "rstr")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.repartitionByRange(8, col("doc_id")), "ingest")
    import graft.storage.SnapshotStore.FilePredicate._
    store.deleteWhere(s, root, between("doc_id", 50L, 400L)) // the bad release
    val v = store.restore(s, root, 1L)
    val restored = store.readAsOf(s, root, v)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .select(lit("restored").as("state"), col("lang"),
        col("n_docs"), col("id_sum"))
    val bad = store.readAsOf(s, root, 2L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .select(lit("bad_release").as("state"), col("lang"),
        col("n_docs"), col("id_sum"))
    restored.unionByName(bad).orderBy("state", "lang")
  }

  /** SHALLOW CLONE (round 15): zero-copy sandbox of the corpus table —
    * the clone mutates (a delete), the SOURCE must read unchanged, and
    * the clone reads the mutated state; both sides aggregated side by
    * side against the relational oracle. */
  def eSnapshotClone(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "clne")
    val store = graft.storage.SnapshotStore
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    store.commit(s, s"$root/src",
      docs.repartitionByRange(8, col("doc_id")), "ingest")
    store.cloneTable(s, s"$root/src", 1L, s"$root/sandbox")
    import graft.storage.SnapshotStore.FilePredicate._
    store.deleteWhere(s, s"$root/sandbox", between("doc_id", 100L, 300L))
    def agg(dir: String, state: String) = store.read(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(lit(state).as("state"), col("lang"),
        col("n_docs"), col("sum_chars"))
    agg(s"$root/src", "source").unionByName(agg(s"$root/sandbox", "sandbox"))
      .orderBy("state", "lang")
  }

  /** Hive-partitioned snapshot table (round 15): the first commit fixes
    * `partitionBy(lang)` — partition values live in the path, never in
    * the data files — an append INHERITS the layout, and the read's
    * partition predicate prunes the listing through Catalyst BEFORE any
    * stats (tier assertions are `SnapshotPartitionSpec`'s business).
    * Answer ≡ the plain filtered aggregate the oracle computes. */
  def eSnapshotPartitioned(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "pttn")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 2 === 0), "ingest",
      partitionBy = Seq("lang"))
    val v = store.commitAppend(s, root,
      docs.filter(col("doc_id") % 2 === 1), "append")
    graft.storage.SnapshotFileIndex.readAsOfTable(s, root, v)
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 30)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** SQL DML front door (round 15): the corpus commits once, then ALL
    * mutation flows through `spark.sql` — a `MERGE INTO ... UPDATE SET *
    * / INSERT *` upsert and a range `DELETE FROM` — resolved by the
    * injected rule onto the store's copy-on-write commits
    * ([[graft.storage.SnapshotDmlRule]]). The oracle replays the same
    * chain relationally. */
  def eSnapshotSqlDml(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "sqldml")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.repartitionByRange(8, col("doc_id")), "ingest")
    val tbl = s"graft_dml_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      docs.filter(col("doc_id") % 5 === 1)
        .withColumn("text", concat(col("text"), lit(" v2")))
        .createOrReplaceTempView("graft_dml_updates")
      s.sql(
        s"""MERGE INTO $tbl t USING graft_dml_updates s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(s"DELETE FROM $tbl WHERE doc_id BETWEEN 100 AND 300")
      store.read(s, root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          countDistinct(md5(col("text"))).as("n_texts"))
        .orderBy("lang")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** SQL UPDATE (round 15 — the DML triad's third command): one commit,
    * then `UPDATE ... SET ... WHERE ...` through the resolution rule —
    * a copy-on-write rewrite where every right-hand side evaluates
    * against the PRE-update row and the WHERE lowers to write-side file
    * skipping ([[graft.storage.SnapshotStore.updateCondition]]). */
  def eSnapshotSqlUpdate(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "squpd")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.repartitionByRange(8, col("doc_id")), "ingest")
    val tbl = s"graft_upd_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      s.sql(
        s"""UPDATE $tbl SET text = concat(text, ' v2'), n_chars = n_chars + 3
           |WHERE doc_id BETWEEN 50 AND 150 AND lang = 'en'""".stripMargin)
      store.read(s, root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(col("text"))).as("n_texts"))
        .orderBy("lang")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** SQL INSERT (round 16 — the SQL story's last write verb): the table
    * seeds once, then every write flows through `spark.sql` — a
    * positional `INSERT INTO ... SELECT`, a column-list insert that
    * null-fills the unnamed column, and an `INSERT OVERWRITE` full
    * replace — each routed through the atomic manifest protocol by
    * [[graft.storage.SnapshotDmlRule]] (Spark's own
    * InsertIntoHadoopFsRelationCommand would write files NO manifest
    * references). Both the inserted and the overwritten state aggregate
    * in one result against the relational replay. */
  def eSnapshotSqlInsert(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "sqlins")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 3 === 0), "ingest")
    val tbl = s"graft_ins_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      docs.createOrReplaceTempView("graft_ins_src")
      s.sql(s"""INSERT INTO $tbl
               |SELECT doc_id, text, lang FROM graft_ins_src
               |WHERE doc_id % 3 = 1""".stripMargin)
      s.sql(s"""INSERT INTO $tbl (doc_id, lang)
               |SELECT doc_id, lang FROM graft_ins_src
               |WHERE doc_id % 3 = 2""".stripMargin)
      val inserted = store.read(s, root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          count(col("text")).as("n_with_text"))
        .select(lit("inserted").as("stage"), col("lang"),
          col("n_docs"), col("id_sum"), col("n_with_text"))
      s.sql(s"""INSERT OVERWRITE $tbl
               |SELECT doc_id, text, lang FROM graft_ins_src
               |WHERE doc_id % 7 = 0""".stripMargin)
      val overwritten = store.read(s, root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          count(col("text")).as("n_with_text"))
        .select(lit("overwritten").as("stage"), col("lang"),
          col("n_docs"), col("id_sum"), col("n_with_text"))
      inserted.unionByName(overwritten).orderBy("stage", "lang")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** SQL maintenance verbs (round 16): `OPTIMIZE ... ZORDER BY`,
    * `VACUUM ... RETAIN`, and `DESCRIBE HISTORY` straight from
    * `spark.sql` via the parser hook — the same maintenance the API
    * exposed since round 14, now a SQL-only story. Output: the
    * post-vacuum history (exact manifest row counts, versions the
    * vacuum retained) plus a read-back row proving the optimized +
    * vacuumed table still answers exactly. */
  def eSnapshotMaintenance(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "maint")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 2 === 0), "ingest")
    store.commitAppend(s, root, docs.filter(col("doc_id") % 2 === 1), "append")
    val tbl = s"graft_mnt_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      s.sql(s"OPTIMIZE $tbl ZORDER BY (doc_id, n_chars)")
      s.sql(s"VACUUM $tbl RETAIN 2 VERSIONS")
      val hist = s.sql(s"DESCRIBE HISTORY $tbl")
        .select(col("version"), col("operation"), col("n_rows"))
      val alive = store.read(s, root).filter(col("n_chars") >= 30)
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(99L).as("version"), lit("alive_rows").as("operation"),
          col("n_rows"))
      hist.unionByName(alive).orderBy("version")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** In-place parquet conversion (round 16 — the CONVERT TO DELTA
    * migration shape): documents land as a PLAIN hive-partitioned
    * parquet directory first (the pre-migration state), then
    * [[graft.storage.SnapshotStore.convertParquet]] adopts it with ZERO
    * rewrite — the manifest references the existing files, stats and
    * partition layout included — and the table immediately answers a
    * partition-pruned aggregate, takes an append, and time-travels to
    * the converted version. Answer ≡ the relational replay. */
  def eSnapshotConvert(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "conv")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    docs.write.partitionBy("lang").parquet(root) // the pre-migration dir
    val store = graft.storage.SnapshotStore
    store.convertParquet(s, root, partitionBy = Seq("lang"))
    store.commitAppend(s, root,
      docs.filter(col("doc_id") % 9 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L), "append")
    val latest = store.read(s, root)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .select(lit("latest").as("as_of"), col("lang"),
        col("n_docs"), col("id_sum"))
    val converted = store.readAsOf(s, root, 1L)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .select(lit("converted").as("as_of"), col("lang"),
        col("n_docs"), col("id_sum"))
    latest.unionByName(converted).orderBy("as_of", "lang")
  }

  /** Merge-on-read deletion vectors (round 16): the SAME delete chain —
    * a range delete then a language delete — runs once through the DV
    * path ([[graft.storage.SnapshotStore.deleteWhereDv]]: every data
    * file carried, O(marked positions) bytes written, readers apply the
    * vector by broadcast anti-join) and once through the copy-on-write
    * path; both states aggregate side by side and must equal the
    * relational replay — DV ≡ CoW ≡ oracle. Write-amp and
    * materialization fences are `SnapshotDvSpec`'s business. */
  def eSnapshotDv(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "dv")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    import graft.storage.SnapshotStore.FilePredicate._
    Seq("dv", "cow").foreach(side => store.commit(s, s"$root/$side",
      docs.repartitionByRange(8, col("doc_id")), "ingest"))
    store.deleteWhereDv(s, s"$root/dv", between("doc_id", 150L, 450L))
    store.deleteWhereDv(s, s"$root/dv", EqTo("lang", "zh")) // chained fold
    store.deleteWhere(s, s"$root/cow", between("doc_id", 150L, 450L))
    store.deleteWhere(s, s"$root/cow", EqTo("lang", "zh"))
    def agg(side: String) = store.read(s, s"$root/$side")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .select(lit(side).as("side"), col("lang"),
        col("n_docs"), col("id_sum"), col("sum_chars"), col("n_texts"))
    agg("dv").unionByName(agg("cow")).orderBy("side", "lang")
  }

  /** Merge-on-read UPDATE via deletion vectors (round 17 — DVs extended
    * from DELETE to the full DML triad): the SAME update chain — a
    * range update rewriting text and recomputing a numeric column, then
    * a language-scoped touch-up — runs once through the DV path
    * ([[graft.storage.SnapshotStore.updateConditionDv]]: every data
    * file carried, pre-image positions vectored, only post-image rows
    * appended) and once through copy-on-write; both states aggregate
    * side by side and must equal the relational replay — DV ≡ CoW ≡
    * oracle. Write-amp, CDF-parity, and SQL auto-dispatch fences are
    * `SnapshotDvMutationSpec`'s business. */
  def eSnapshotDvUpdate(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "dvu")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    import graft.storage.SnapshotStore.FilePredicate._
    Seq("dv", "cow").foreach(side => store.commit(s, s"$root/$side",
      docs.repartitionByRange(8, col("doc_id")), "ingest"))
    val a1 = Seq(
      "text" -> concat(col("text"), lit(" r17")),
      "n_chars" -> (col("n_chars") + 4))
    val a2 = Seq("text" -> concat(lit("zh:"), col("text")))
    store.updateConditionDv(s, s"$root/dv",
      col("doc_id").between(150L, 250L), Some(between("doc_id", 150L, 250L)),
      a1)
    store.updateConditionDv(s, s"$root/dv",
      col("lang") === "zh", Some(EqTo("lang", "zh")), a2)
    store.updateCondition(s, s"$root/cow",
      col("doc_id").between(150L, 250L), Some(between("doc_id", 150L, 250L)),
      a1)
    store.updateCondition(s, s"$root/cow",
      col("lang") === "zh", Some(EqTo("lang", "zh")), a2)
    def agg(side: String) = store.read(s, s"$root/$side")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .select(lit(side).as("side"), col("lang"),
        col("n_docs"), col("id_sum"), col("sum_chars"), col("n_texts"))
    agg("dv").unionByName(agg("cow")).orderBy("side", "lang")
  }

  /** SQL DDL story end-to-end (round 17): the table is BORN through SQL
    * — `CREATE TABLE ... USING graft-snapshot AS SELECT` (CTAS through
    * the registered `CreatableRelationProvider`) — then evolves through
    * `ALTER TABLE ... ADD COLUMNS` (a zero-data-rewrite metadata commit,
    * [[graft.storage.SnapshotStore.addColumns]]), takes an INSERT whose
    * rows carry the new column while pre-evolution rows null-fill it,
    * and answers an aggregate over the mixed-evolution state ≡ the
    * relational replay. Refusal/catalog-sync fences are
    * `SnapshotDdlSpec`'s business. */
  def eSnapshotDdl(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "ddl")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    docs.createOrReplaceTempView("graft_ddl_src")
    val tbl = s"graft_ddl_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      s.sql(
        s"""CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')
           |AS SELECT doc_id, text, lang FROM graft_ddl_src
           |WHERE doc_id % 2 = 0""".stripMargin)
      s.sql(s"ALTER TABLE $tbl ADD COLUMNS (quality BIGINT)")
      s.sql(
        s"""INSERT INTO $tbl
           |SELECT doc_id, text, lang, CAST(n_chars AS BIGINT)
           |FROM graft_ddl_src WHERE doc_id % 2 = 1""".stripMargin)
      s.sql(
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
           |  CAST(count(quality) AS BIGINT) AS n_quality,
           |  CAST(sum(quality) AS BIGINT) AS sum_quality
           |FROM $tbl GROUP BY lang ORDER BY lang""".stripMargin)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** TBLPROPERTIES + table constraints, declared PURELY via SQL
    * (round 18 — the Delta `TBLPROPERTIES`/invariants surface): CTAS
    * declares `graft.bloomColumns` in TBLPROPERTIES (the parser routes
    * it into the table-creating commit's manifest header), `ADD
    * CONSTRAINT ... CHECK` records an invariant every write validates,
    * a VALID insert lands, a VIOLATING insert refuses WHOLESALE
    * (nothing commits — the final aggregate proves it), and the
    * declared bloom must actually prune a definite-absent point probe
    * (asserted in-query — the property is load-bearing, not cosmetic).
    * Result ≡ the relational replay over `documents` with only the
    * valid rows present. */
  def eSnapshotTblProps(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "tbp")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      .repartition(8, col("doc_id"))
      .createOrReplaceTempView("graft_tbp_src")
    val tbl = s"graft_tbp_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      s.sql(
        s"""CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')
           |TBLPROPERTIES ('graft.bloomColumns'='doc_id')
           |AS SELECT doc_id, lang, n_chars FROM graft_tbp_src
           |WHERE doc_id % 3 != 0""".stripMargin)
      s.sql(s"ALTER TABLE $tbl ADD CONSTRAINT len CHECK (n_chars >= 0)")
      s.sql(
        s"""INSERT INTO $tbl
           |SELECT doc_id, lang, n_chars FROM graft_tbp_src
           |WHERE doc_id % 3 = 0""".stripMargin)
      // a violating insert must refuse WHOLESALE — even though the
      // batch also carries valid rows
      val refused =
        try {
          s.sql(s"INSERT INTO $tbl VALUES (9000001, 'xx', 10), " +
            "(9000002, 'xx', -5)")
          false
        } catch {
          case _: graft.storage.SnapshotStore.ConstraintViolationException =>
            true
        }
      require(refused, "the violating INSERT must refuse")
      // the SQL-declared bloom is load-bearing: a definite-absent point
      // probe prunes files the min/max ranges alone would keep
      val store = graft.storage.SnapshotStore
      val v = store.latestVersion(s, root).get
      val m = store.manifest(s, root, v)
      val kept = store.prunedFiles(s, root, v,
        store.FilePredicate.EqTo("doc_id", 123456789L))
      require(kept.length < m.files.length,
        s"SQL-declared bloom must prune (kept ${kept.length}/${m.files.length})")
      s.sql(
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
           |  CAST(sum(n_chars) AS BIGINT) AS len_sum
           |FROM $tbl GROUP BY lang ORDER BY lang""".stripMargin)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** TYPE WIDENING end-to-end (round 18 — `ALTER COLUMN ... TYPE` as a
    * metadata-only commit): the table is born with INT ids and FLOAT
    * scores, widens both (`doc_id` → BIGINT, `score` → DOUBLE) with the
    * in-query fence that ZERO data files moved, then takes an INSERT
    * whose ids exceed int range — pre-widening files keep their native
    * int32/float parquet types and upcast at read. The mixed-width
    * aggregate ≡ the relational replay. Lattice/refusal/pruning fences
    * are `SnapshotWidenSpec`'s business. */
  def eSnapshotWiden(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "wdn")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("graft_wdn_src")
    val tbl = s"graft_wdn_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      s.sql(
        s"""CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')
           |AS SELECT CAST(doc_id AS INT) AS doc_id, lang,
           |  CAST(n_chars AS FLOAT) AS score
           |FROM graft_wdn_src""".stripMargin)
      s.sql(s"ALTER TABLE $tbl ALTER COLUMN doc_id TYPE BIGINT")
      s.sql(s"ALTER TABLE $tbl ALTER COLUMN score TYPE DOUBLE")
      val store = graft.storage.SnapshotStore
      require(store.manifest(s, root, 3L).files ==
        store.manifest(s, root, 1L).files,
        "widening must be metadata-only — zero data files may move")
      // ids an int cannot hold land WITHOUT any rewrite of the int files
      s.sql(
        s"""INSERT INTO $tbl
           |SELECT CAST(doc_id AS BIGINT) + ${1L << 40}, lang,
           |  CAST(n_chars AS DOUBLE)
           |FROM graft_wdn_src WHERE doc_id % 17 = 0""".stripMargin)
      s.sql(
        s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
           |  CAST(max(doc_id) AS BIGINT) AS id_max,
           |  CAST(sum(CAST(score AS BIGINT)) AS BIGINT) AS score_sum
           |FROM $tbl GROUP BY lang ORDER BY lang""".stripMargin)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** PARQUET MULTI-PART CHECKPOINTS under real reconstruction
    * (round 18 — the Delta `checkpoint.parquet` shape): a table with a
    * per-table `graft.checkpointInterval` of 3 accumulates six commits
    * (ingest, three appends, a CoW delete, a DV delete), so reads of
    * v4 and v6 reconstruct through parquet checkpoints + action deltas
    * — with in-query fences that the checkpoint headers stay SMALL
    * (bytes independent of file count; the per-file state lives in the
    * `.ckpt/` parquet parts) and both encodings' artifacts exist. The
    * two-era aggregate (pre-delete v4, latest) ≡ the relational
    * replay. Torn-state/round-trip fences are
    * `SnapshotActionLogSpec`'s business. */
  def eSnapshotCkpt(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "ckp")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    import graft.storage.SnapshotStore.FilePredicate._
    store.commit(s, root,
      docs.filter(col("doc_id") % 4 === 0).repartition(4), "ingest",
      tblProperties = Map("graft.checkpointInterval" -> "3"))
    (1 to 3).foreach(r => store.commitAppend(s, root,
      docs.filter(col("doc_id") % 4 === r).repartition(4), s"append-$r"))
    store.deleteWhere(s, root, between("doc_id", 100L, 200L))   // v5 (CoW)
    store.deleteWhereDv(s, root, between("doc_id", 300L, 320L)) // v6 (+ckpt)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(3L, 6L).foreach { v =>
      val hdr = new org.apache.hadoop.fs.Path(
        f"$root/_manifests/v$v%08d.ckpt.json")
      require(hfs.exists(hdr), s"parquet checkpoint header missing at v$v")
      require(hfs.getFileStatus(hdr).getLen < 4096,
        s"checkpoint header must stay small at v$v — the file list " +
          "belongs in the parquet parts")
      require(hfs.exists(new org.apache.hadoop.fs.Path(
        f"$root/_manifests/v$v%08d.ckpt")),
        s"parquet checkpoint parts missing at v$v")
    }
    def era(name: String, v: Long) = store.readAsOf(s, root, v)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("sum_chars"))
      .select(lit(name).as("era"), col("lang"),
        col("n_docs"), col("id_sum"), col("sum_chars"))
    era("full", 4L).unionByName(era("latest", 6L)).orderBy("era", "lang")
  }

  /** Scoped OPTIMIZE + NOT NULL invariant end-to-end (round 18): the
    * table ingests a cold tail and a hot head of small files,
    * `OPTIMIZE ... WHERE` compacts ONLY the hot range (in-query fences:
    * cold files carry by path, hot file count shrinks), `ALTER COLUMN
    * ... SET NOT NULL` records the invariant and a null-bearing INSERT
    * refuses WHOLESALE — the final aggregate ≡ the relational replay
    * with only the valid rows present. */
  def eSnapshotOptimizeWhere(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "opw")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    // the cold/hot split is DATA-RELATIVE (3/5 of the max id) so the
    // fixture holds at every scale factor — absolute cuts empty out at
    // small SFs
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 3 / 5
    store.commit(s, root,
      docs.filter(col("doc_id") < cut).repartitionByRange(4, col("doc_id")),
      "ingest")
    store.commitAppend(s, root,
      docs.filter(col("doc_id") >= cut)
        .repartitionByRange(8, col("doc_id")), "append")
    val tbl = s"graft_opw_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      val before = store.manifest(s, root, 2L)
      val cold = before.files.filter(_.contains("v00000001"))
      s.sql(s"OPTIMIZE $tbl WHERE doc_id >= $cut")
      val after = store.manifest(s, root, 3L)
      require(after.operation == "compact" &&
        cold.forall(after.files.contains),
        "scoped OPTIMIZE must carry the cold files by path")
      require(after.files.size < before.files.size,
        "the hot range must compact to fewer files")
      s.sql(s"ALTER TABLE $tbl ALTER COLUMN lang SET NOT NULL")
      val refused =
        try { s.sql(s"INSERT INTO $tbl VALUES (9000001, NULL, 5)"); false }
        catch {
          case _: graft.storage.SnapshotStore.ConstraintViolationException =>
            true
        }
      require(refused, "the null-bearing INSERT must refuse")
      store.read(s, root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** The round-18 SQL maintenance-verb trio end-to-end: the table is
    * born via CTAS, takes an INSERT, is SHALLOW-CLONED at the pinned
    * pre-insert version (zero bytes copied — fenced in-query), then
    * RESTOREd to that same version; `DESCRIBE DETAIL` fences the final
    * version/operation. Both the restored table and the clone must
    * equal the v1 relational replay — two eras, one oracle. */
  def eSnapshotSqlVerbs(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "vrb")
    val cloneDir = snapScratch(s, d, "vrbclone")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("graft_vrb_src")
    val tbl = s"graft_vrb_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      s.sql(
        s"""CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')
           |AS SELECT doc_id, lang, n_chars FROM graft_vrb_src
           |WHERE doc_id % 3 != 0""".stripMargin)
      s.sql(
        s"""INSERT INTO $tbl
           |SELECT doc_id + 900000, lang, n_chars FROM graft_vrb_src
           |WHERE doc_id % 3 = 0""".stripMargin)
      s.sql(s"CREATE TABLE '$cloneDir' SHALLOW CLONE $tbl VERSION AS OF 1")
      val store = graft.storage.SnapshotStore
      require(store.manifest(s, cloneDir, 1L).files.forall(_.contains(root)),
        "shallow clone must REFERENCE the source's files — zero copied")
      s.sql(s"RESTORE TABLE $tbl TO VERSION AS OF 1")
      val detail = s.sql(s"DESCRIBE DETAIL $tbl").collect()(0)
      require(detail.getLong(2) == 3L && detail.getString(3) == "restore",
        s"DESCRIBE DETAIL must report the restore commit, got $detail")
      def era(name: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(col("n_chars")).as("sum_chars"))
          .select(lit(name).as("era"), col("lang"),
            col("n_docs"), col("id_sum"), col("sum_chars"))
      era("clone", store.read(s, cloneDir))
        .unionByName(era("restored", s.table(tbl)))
        .orderBy("era", "lang")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** SCOPED Z-ORDER + declared target file size + distributed pruning
    * end-to-end (round 19): a cold pre-clustered tail takes a hot
    * round-robin head (worst locality), `graft.targetFileSize` is
    * declared via SQL TBLPROPERTIES, and `OPTIMIZE ... WHERE ... ZORDER
    * BY` re-clusters ONLY the hot range — in-query fences: cold files
    * carry by path, the property splits the hot rewrite into multiple
    * files, a narrow hot slice PRUNES post-zorder (the locality
    * payoff), and the hot-era aggregate reads through the DISTRIBUTED
    * checkpoint-pruning path (state-as-DataFrame — the driver
    * materializes survivors only, fenced on the scan counter). Both
    * eras ≡ the relational replay (content-neutral rewrites). */
  def eSnapshotZorderScoped(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "zsc")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    import graft.storage.SnapshotStore.FilePredicate._
    // data-relative cut (absolute cuts empty out at small SFs)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cut = maxId * 3 / 5
    store.commit(s, root,
      docs.filter(col("doc_id") < cut).repartitionByRange(4, col("doc_id")),
      "ingest", tblProperties = Map("graft.checkpointInterval" -> "3"))
    // the hot head lands ROUND-ROBIN: every file spans the whole id
    // range — min/max prune nothing, the case scoped ZORDER exists for
    store.commitAppend(s, root,
      docs.filter(col("doc_id") >= cut).repartition(6), "append")
    val tbl = s"graft_zsc_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(s"CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')")
    try {
      s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
        "('graft.targetFileSize'='1024')") // v3 (+ checkpoint)
      val before = store.manifest(s, root, 3L)
      val cold = before.files.filter(_.contains("v00000001"))
      s.sql(s"OPTIMIZE $tbl WHERE doc_id >= $cut ZORDER BY (doc_id, n_chars)")
      val after = store.manifest(s, root, 4L)
      require(after.operation == "zorder" && cold.forall(after.files.contains),
        "scoped ZORDER must carry the cold files by path")
      val hotAfter = after.files.filterNot(cold.toSet).toSet
      require(hotAfter.size >= 3,
        s"the declared graft.targetFileSize must split the hot rewrite, " +
          s"got ${hotAfter.size} files")
      // the locality payoff: a narrow slice of the hot range prunes
      // post-zorder files (the round-robin layout kept everything)
      val kept = store.prunedFiles(s, root, 4L,
        between("doc_id", cut, cut + (maxId - cut) / 4)).count(hotAfter)
      require(kept < hotAfter.size,
        s"z-order locality must prune the hot slice: kept $kept of ${hotAfter.size}")
      // hot era through the DISTRIBUTED pruning path (v3 checkpoint +
      // one delta): the driver materializes survivors only
      val hot = store.readAsOfWhereDistributed(s, root, 4L,
        GtEq("doc_id", cut))
      require(store.lastDistributedPrune._1 == before.files.size.toLong,
        "the hot read must prune through the DISTRIBUTED checkpoint scan " +
          "(the v3 checkpoint's entries scan distributed; the zorder delta " +
          s"folds driver-side) — scanned ${store.lastDistributedPrune._1} " +
          s"of ${before.files.size}")
      def era(name: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(col("n_chars")).as("sum_chars"))
          .select(lit(name).as("era"), col("lang"),
            col("n_docs"), col("id_sum"), col("sum_chars"))
      era("all", store.read(s, root)).unionByName(era("hot", hot))
        .orderBy("era", "lang")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** EXPRESSION COLUMN DEFAULTS end-to-end (round 19 —
    * `graft.generated.<col>`): the table is born via CTAS with a
    * declared `len_bucket` the writing frame does not carry (computed
    * at commit), a SQL INSERT omitting the column computes it too, and
    * Delta-strict GENERATED ALWAYS equality is opted into as a CHECK —
    * the in-query fence proves a writer-supplied WRONG value refuses
    * wholesale while the computed path keeps landing. The final
    * per-bucket aggregate ≡ the relational replay computing the same
    * expression. */
  def eSnapshotGenerated(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "gen")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("graft_gen_src")
    val tbl = s"graft_gen_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      s.sql(
        s"""CREATE TABLE $tbl USING `graft-snapshot`
           |OPTIONS (path '$root')
           |TBLPROPERTIES ('graft.generated.len_bucket' = 'n_chars % 8')
           |AS SELECT doc_id, lang, n_chars FROM graft_gen_src
           |WHERE doc_id % 2 = 0""".stripMargin)
      require(graft.storage.SnapshotStore.read(s, root)
        .columns.contains("len_bucket"),
        "the declared column must be computed at the CTAS commit")
      s.sql(
        s"""INSERT INTO $tbl (doc_id, lang, n_chars)
           |SELECT doc_id + 700000, lang, n_chars FROM graft_gen_src
           |WHERE doc_id % 2 = 1""".stripMargin)
      // strict GENERATED ALWAYS: opt in via the CHECK machinery, then
      // fence that a wrong explicit value refuses wholesale
      s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
        "('graft.constraints.gen_len' = 'len_bucket <=> n_chars % 8')")
      val refused =
        try { s.sql(s"INSERT INTO $tbl VALUES (9000001, 'xx', 40, 99)"); false }
        catch {
          case _: graft.storage.SnapshotStore.ConstraintViolationException =>
            true
        }
      require(refused, "a wrong explicit value must refuse under the " +
        "opt-in strict CHECK")
      s.sql(
        s"""SELECT len_bucket, count(*) AS n, sum(doc_id) AS id_sum,
           |  sum(n_chars) AS chars_sum
           |FROM $tbl GROUP BY len_bucket ORDER BY len_bucket""".stripMargin)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** GENERATED ALWAYS AS IDENTITY end-to-end (round 20 —
    * `graft.identity.<col>` riding the generated-defaults machinery):
    * the table is born via CTAS with a declared identity column the
    * writing frame does not carry — the commit allocates the DENSE
    * range [start, start + n·step) in the frame's row order (the CTAS
    * query is globally ORDER BY'd, so allocation ≡ `row_number() - 1`)
    * — and a SQL INSERT omitting the column continues at the carried
    * high-water mark, never reusing a value. In-query fences: a
    * writer-supplied explicit value refuses (GENERATED ALWAYS), and a
    * row-replacing merge refuses (replaced rows would lose their
    * values). The final per-lang aggregate folds `sum(row_id·doc_id)`
    * so the oracle verifies the exact per-row mapping, not just the
    * range. */
  def eSnapshotIdentity(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "idn")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("graft_idn_src")
    val tbl = s"graft_idn_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      s.sql(
        s"""CREATE TABLE $tbl USING `graft-snapshot`
           |OPTIONS (path '$root')
           |TBLPROPERTIES ('graft.identity.row_id' = '0,1')
           |AS SELECT doc_id, lang, n_chars FROM graft_idn_src
           |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin)
      val store = graft.storage.SnapshotStore
      require(store.read(s, root).columns.contains("row_id"),
        "the identity column must be allocated at the CTAS commit")
      s.sql(
        s"""INSERT INTO $tbl (doc_id, lang, n_chars)
           |SELECT doc_id + 800000, lang, n_chars FROM graft_idn_src
           |WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin)
      // GENERATED ALWAYS: an explicit writer value refuses
      val refused =
        try { s.sql(s"INSERT INTO $tbl VALUES (9000001, 'xx', 40, 99)"); false }
        catch { case e: Exception =>
          e.getMessage.contains("GENERATED ALWAYS") }
      require(refused, "an explicit identity value must refuse")
      // row-replacing upserts refuse — replaced rows would lose values
      import s.implicits._
      val refusedMerge =
        try {
          store.merge(s, root,
            Seq((2L, "xx", 40L)).toDF("doc_id", "lang", "n_chars"),
            Seq("doc_id")); false
        } catch { case e: Exception =>
          e.getMessage.contains("GENERATED ALWAYS") }
      require(refusedMerge, "merge on an identity table must refuse")
      s.sql(
        s"""SELECT lang, count(*) AS n,
           |  sum(row_id) AS id_sum, min(row_id) AS lo, max(row_id) AS hi,
           |  sum(row_id * doc_id) AS wsum
           |FROM $tbl GROUP BY lang ORDER BY lang""".stripMargin)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** SQL `table_changes` TVF end-to-end (round 19 — the Delta CDF
    * table-valued function over the engine's boundary-diff feed): the
    * table takes an INSERT, an UPDATE, and a DELETE through plain SQL,
    * then `SELECT ... FROM table_changes('t', 1)` delivers the net
    * row-grain changes in the CDF vocabulary, keyed by the table's own
    * `graft.cdfKeys` declaration. In-query fences: the undeclared-keys
    * refusal names the remedy, and the quoted-path form agrees with the
    * registered-name form. The change classes ≡ the relational replay
    * (inserts carry post values, deletes pre values, updates pre+post
    * pairs). */
  def eSnapshotTableChanges(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "tvc")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("graft_tvc_src")
    val tbl = s"graft_tvc_${math.abs(root.hashCode.toLong)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      s.sql(
        s"""CREATE TABLE $tbl USING `graft-snapshot` OPTIONS (path '$root')
           |AS SELECT doc_id, lang, n_chars FROM graft_tvc_src""".stripMargin)
      s.sql(
        s"""INSERT INTO $tbl
           |SELECT doc_id + 900000, lang, n_chars FROM graft_tvc_src
           |WHERE doc_id % 3 = 0""".stripMargin)            // v2
      // keys are DECLARED, not plumbed — and the refusal before the
      // declaration names the remedy
      val refused =
        try { s.sql(s"SELECT * FROM table_changes('$tbl', 1)"); false }
        catch { case e: org.apache.spark.sql.AnalysisException =>
          e.getMessage.contains("graft.cdfKeys")
        }
      require(refused, "undeclared keys must refuse naming graft.cdfKeys")
      s.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES " +
        "('graft.cdfKeys' = 'doc_id')")                     // v3
      s.sql(s"UPDATE $tbl SET n_chars = n_chars * 2 " +
        "WHERE doc_id % 7 = 0 AND doc_id < 900000")         // v4
      s.sql(s"DELETE FROM $tbl " +
        "WHERE doc_id % 5 = 3 AND doc_id < 900000")         // v5
      // the quoted-path form agrees with the registered-name form
      val nName = s.sql(s"SELECT count(*) FROM table_changes('$tbl', 1)")
        .head().getLong(0)
      val nPath = s.sql(s"SELECT count(*) FROM table_changes('$root', 1, 5)")
        .head().getLong(0)
      require(nName == nPath && nName > 0L,
        s"name and path forms must agree: $nName vs $nPath")
      s.sql(
        s"""SELECT _change_type, lang, count(*) AS n,
           |  sum(doc_id) AS id_sum, sum(n_chars) AS chars_sum
           |FROM table_changes('$tbl', 1)
           |GROUP BY _change_type, lang
           |ORDER BY _change_type, lang""".stripMargin)
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** DROP COLUMN + tombstoned re-add (round 17 — the DDL triad's third
    * verb over column mapping): the table drops a column (metadata-only
    * — retained files keep dead bytes, reads project them away), then
    * RE-ADDS the same name via `ALTER TABLE ADD COLUMNS` (which takes a
    * FRESH physical name — old bytes must NOT resurrect: pre-existing
    * rows read NULL) and inserts rows carrying the new column. The
    * mixed-evolution aggregate ≡ the relational replay where the
    * re-added column is null for the original rows. */
  def eSnapshotDropColumn(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "drp")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.repartitionByRange(8, col("doc_id")), "ingest")
    store.dropColumn(s, root, "n_chars")
    store.addColumns(s, root, Seq(org.apache.spark.sql.types.StructField(
      "n_chars", org.apache.spark.sql.types.LongType)))
    store.commitAppend(s, root,
      docs.filter(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 700000L)
        .withColumn("n_chars", col("n_chars").cast("long") * 2), "append")
    store.read(s, root)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        count(col("n_chars")).as("n_with_chars"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** Column mapping (round 17 — Delta's name-mode mapping):
    * `RENAME COLUMN` as a metadata-only commit
    * ([[graft.storage.SnapshotStore.renameColumn]] — the physical name
    * every committed parquet file carries rides the field metadata, so
    * zero bytes move), then an APPEND under the new logical name, a
    * predicate on the renamed column (which must still stats-prune
    * through the logical→physical translation), and a time travel to
    * the pre-rename version under its OLD name — all in one result ≡
    * the relational replay. Write-path and SQL fences are
    * `SnapshotRenameSpec`'s business. */
  def eSnapshotRename(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "ren")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    import graft.storage.SnapshotStore.FilePredicate._
    store.commit(s, root, docs.repartitionByRange(8, col("doc_id")), "ingest")
    store.renameColumn(s, root, "n_chars", "doc_len")
    store.commitAppend(s, root,
      docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 500000L)
        .withColumnRenamed("n_chars", "doc_len"), "append")
    val renamed = store.readAsOfWhere(s, root, 3L, GtEq("doc_len", 40L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_len")).as("len_sum"))
      .select(lit("renamed").as("era"), col("lang"),
        col("n_docs"), col("len_sum"))
    val preRename = store.readAsOf(s, root, 1L)
      .filter(col("n_chars") >= 40L) // the OLD name, pre-rename
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("len_sum"))
      .select(lit("original").as("era"), col("lang"),
        col("n_docs"), col("len_sum"))
    renamed.unionByName(preRename).orderBy("era", "lang")
  }

  /** Point-lookup data skipping via declared bloom columns (round 16):
    * the corpus commits with ids SHUFFLED across files — every file's
    * (min, max) spans the whole id range, so range stats prune NOTHING
    * — and `bloomCols = doc_id` recorded at commit lets an `IN` point
    * lookup prune to ~|IN| files through
    * [[graft.storage.SnapshotStore.FilePredicate.InSet]] (pruned-count
    * fences are `SnapshotStoreSpec`'s business; a never-present id
    * proves definite-absence). Answer ≡ the plain IN filter. */
  def eSnapshotPointSkip(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "pnt")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("shuffle", pmod(hash(col("doc_id")), lit(8)))
      .repartitionByRange(8, col("shuffle"))
      .drop("shuffle")
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs, "ingest", bloomCols = Seq("doc_id"))
    import graft.storage.SnapshotStore.FilePredicate._
    store.readAsOfWhere(s, root, 1L,
      InSet("doc_id", Seq(3L, 41L, 97L, 123L, 250L, 999999L)))
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Decimal data skipping (round 16): a DECIMAL(12,2) money-grade
    * column commits with EXACT unscaled-long min/max stats (rounded
    * double bounds could prune a boundary file incorrectly — the reason
    * decimals were previously untracked), the layout range-partitions on
    * it, and a decimal range predicate file-skips through
    * [[graft.storage.SnapshotStore.readAsOfWhere]] with answers equal to
    * the plain filtered aggregate the oracle computes. */
  def eSnapshotDecimalSkip(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "dec")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("price", col("n_chars").cast("decimal(12,2)"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.repartitionByRange(8, col("price")), "ingest")
    import graft.storage.SnapshotStore.FilePredicate._
    val pred = between("price",
      new java.math.BigDecimal("50.00"), new java.math.BigDecimal("500.00"))
    store.readAsOfWhere(s, root, 1L, pred)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        round(sum(col("price")).cast("double"), 2).as("sum_price"))
      .orderBy("lang")
  }

  /** Catalyst-integrated snapshot read (round 14): commit + Z-order,
    * then answer a range query through
    * [[graft.storage.SnapshotFileIndex.readAsOfTable]] with a PLAIN
    * `.filter` — the custom FileIndex receives the pushed-down
    * predicate from the scan and prunes the manifest's file list by the
    * committed per-file stats, with no explicit FilePredicate plumbing
    * (the Delta TahoeFileIndex shape; pruned-count plan assertions are
    * `SnapshotFileIndexSpec`'s business). Answer ≡ the full scan. */
  def eSnapshotCatalog(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "cat")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs, "ingest")
    val v = store.cluster(s, root, "doc_id", "n_chars", nFiles = 8)
    graft.storage.SnapshotFileIndex.readAsOfTable(s, root, v)
      .filter(col("doc_id") >= 40 && col("doc_id") <= 310 && col("n_chars") >= 30)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("source")
  }

  /** File-grain change feed over the manifest log (round 14): three
    * content commits with a compaction REWRITE interleaved —
    * [[graft.storage.SnapshotStore.readChangesSince]] must deliver
    * exactly the rows the appends added (scanning only their files) and
    * surface nothing for the rewrite, completing the storage-side CDC
    * story (reference README.md:19-23 semantics at file grain). */
  def eSnapshotChanges(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "chg")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 3 === 0), "ingest")
    store.commitAppend(s, root, docs.filter(col("doc_id") % 3 === 1), "append")
    store.compact(s, root, targetFileBytes = 4L * 1024 * 1024)
    val v4 = store.commitAppend(s, root,
      docs.filter(col("doc_id") % 3 === 2), "append")
    store.readChangesSince(s, root, 1L, v4)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Copy-on-write MERGE through the snapshot store (round 14): an
    * UPDATE merge (narrow key envelope — off-envelope files are carried,
    * not rewritten) followed by an INSERT merge (envelope past the
    * table's tail — zero base files rewritten), then one aggregate over
    * the merged state. Upsert semantics are oracle-checked end to end;
    * the carried-file / envelope-pruning contract is
    * `SnapshotStoreSpec`'s business. */
  def eSnapshotMerge(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "mrg")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.repartitionByRange(8, col("doc_id")), "ingest")
    val updates = docs.filter(col("doc_id").between(100L, 300L))
      .withColumn("text", concat(col("text"), lit(" v2")))
    store.merge(s, root, updates, Seq("doc_id"))
    val inserts = docs.filter(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val v = store.merge(s, root, inserts, Seq("doc_id"))
    store.readAsOf(s, root, v)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** Additive schema evolution through the snapshot store (round 14):
    * the first commit has no `score` column; an evolved append adds it.
    * The manifest records the UNION schema, so the latest read
    * null-fills `score` for every pre-evolution file with ZERO rewrites
    * (time travel keeps each version's own shape — spec territory,
    * `SnapshotStoreSpec`). */
  def eSnapshotEvolve(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "evo")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 2 === 0), "ingest")
    val delta = docs.filter(col("doc_id") % 2 === 1)
      .withColumn("score", (col("doc_id") % 7).cast("double") / 10)
    val v = store.commitAppend(s, root, delta, "append")
    store.readAsOf(s, root, v)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("score")).as("n_scored"),
        round(sum(coalesce(col("score"), lit(0.0))), 6).as("sum_score"))
      .orderBy("lang")
  }

  /** The registered `graft-snapshot` source end to end (round 14):
    * documents flow in through `df.write.format("graft-snapshot")`
    * (seed + upsert via the `mergeKeys` option), back out through
    * `spark.read.format(...)` — latest AND `version` time travel — with
    * a plain filter the custom FileIndex prunes against the committed
    * stats. Grades the whole named-source path the specs exercise,
    * against a relational oracle. */
  def eSnapshotSource(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "src")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    docs.filter(col("doc_id") % 2 === 0)
      .repartitionByRange(4, col("doc_id"))
      .write.format("graft-snapshot").option("operation", "seed").save(root)
    docs.filter(col("doc_id") % 3 === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
      .write.format("graft-snapshot").mode("append")
      .option("mergeKeys", "doc_id").save(root)
    val latest = s.read.format("graft-snapshot").load(root)
      .filter(col("n_chars") >= 30)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .select(lit("latest").as("as_of"), col("lang"),
        col("n_docs"), col("n_texts"))
    val v1 = s.read.format("graft-snapshot").option("version", 1).load(root)
      .filter(col("n_chars") >= 30)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .select(lit("v1").as("as_of"), col("lang"),
        col("n_docs"), col("n_texts"))
    latest.unionByName(v1).orderBy("as_of", "lang")
  }

  /** Row-grain change-data feed (round 14): ingest → upsert merge →
    * range delete, then [[graft.storage.SnapshotStore.readRowChanges]]
    * across the whole chain — inserts/deletes once, updates as
    * pre+post image pairs, unchanged rows never surfacing (the Delta
    * CDF vocabulary derived from two snapshot reads + ONE full-outer
    * key join; correct across any operation mix). */
  def eSnapshotCdf(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "cdf")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 3 =!= 0), "ingest")
    store.merge(s, root,
      docs.filter(col("doc_id") % 5 === 1)
        .withColumn("text", concat(col("text"), lit(" v2"))),
      Seq("doc_id"))
    val v3 = store.deleteWhere(s, root,
      graft.storage.SnapshotStore.FilePredicate.between("doc_id", 50L, 120L))
    store.readRowChanges(s, root, 1L, v3, Seq("doc_id"))
      .select(col("doc_id"), col("_change_type"))
      .orderBy("doc_id", "_change_type")
  }

  /** Commit-log history through the snapshot store (round 14): an
    * ingest → append → copy-on-write delete chain, then
    * [[graft.storage.SnapshotStore.history]] — per-version operation +
    * EXACT row counts straight from the manifest's per-file stats (no
    * data scan; the DESCRIBE HISTORY of the store, oracle-checked
    * against the arithmetic of the chain). */
  def eSnapshotHistory(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "hist")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.filter(col("doc_id") % 2 === 0), "ingest")
    store.commitAppend(s, root, docs.filter(col("doc_id") % 2 === 1), "append")
    import graft.storage.SnapshotStore.FilePredicate._
    store.deleteWhere(s, root, between("doc_id", 100L, 200L))
    store.history(s, root)
      .select(col("version"), col("operation"), col("n_rows"))
      .orderBy("version")
  }

  /** Expectation-GATED ingest (round 14): one batch of the corpus flows
    * through the contract gate — passing rows commit to the MAIN
    * snapshot table, each violating row commits to QUARANTINE carrying
    * the exact rule labels it failed (nothing silently dropped — the DLT
    * "expect or quarantine" shape over the snapshot store). Output: the
    * main side per lang, the quarantine side per violated rule; the
    * replay-guard / kill-and-resume contracts are
    * `GatedSnapshotIngestSpec`'s business. */
  def eSnapshotGated(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "gate")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    import graft.operators.Expectations._
    val rules = Seq[graft.operators.Expectations.Rule](
      NotNull("lang"),
      InRange("n_chars", 20L, 5000L),
      InSet("lang", Seq("en", "de", "fr", "es")))
    graft.streaming.GatedSnapshotIngest.gateAndCommit(
      s, docs, s"$root/main", s"$root/quarantine", rules, "ingest-b0")
    val store = graft.storage.SnapshotStore
    val main = store.read(s, s"$root/main")
      .groupBy(col("lang").as("key"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .select(lit("main").as("side"), col("key"), col("n_docs"), col("id_sum"))
    val quarantine = store.read(s, s"$root/quarantine")
      .select(col("doc_id"), explode(col("violated_rules")).as("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .select(lit("quarantine").as("side"), col("key"),
        col("n_docs"), col("id_sum"))
    main.unionByName(quarantine).orderBy("side", "key")
  }

  /** Copy-on-write DELETE through the snapshot store (round 14): a
    * range delete (stats carry the off-range files of the
    * range-partitioned layout untouched) then a string-equality delete,
    * chained through the same atomic-manifest protocol; the remaining
    * state is oracle-checked as a plain filtered aggregate. */
  def eSnapshotDelete(s: SparkSession, d: String): DataFrame = {
    val root = snapScratch(s, d, "del")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
    val store = graft.storage.SnapshotStore
    store.commit(s, root, docs.repartitionByRange(8, col("doc_id")), "ingest")
    import graft.storage.SnapshotStore.FilePredicate._
    store.deleteWhere(s, root, between("doc_id", 150L, 450L))
    val v = store.deleteWhere(s, root, EqTo("lang", "zh"))
    store.readAsOf(s, root, v)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  def eFingerprint(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(graft.functions.TextAnalysis.unicodeTokens(col("text"))).as(Seq("pos", "tok")))
    toks
      .withColumn("term", TextAnalysis.fpTerm(col("tok"), col("pos")))
      .groupBy("doc_id")
      .agg((sum(col("term")) % TextAnalysis.FpMod).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** TF-IDF over the corpus: per-doc top term by tf·idf (plain relational
    * shape — explode, two aggregations, a broadcast-sized df table). */
  def eTfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs.select(col("doc_id"),
      explode(graft.functions.TextAnalysis.unicodeTokens(col("text"))).as("term"))
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), asc("term"))
    tf.join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tfidf"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling: per-language keep rates applied via
    * the portable content hash (no RNG — reproducible across runs, engines,
    * and cluster sizes; the sampling decision is a pure function of the
    * row). The standard way to cut a training mix at 100 TB. */
  def eStratifiedSample(s: SparkSession, d: String): DataFrame = {
    val rate = typedLit(Map("en" -> 80L, "de" -> 50L, "fr" -> 50L, "es" -> 50L, "zh" -> 25L))
    Tables.documents(s, d)
      .withColumn("pct", Dedup.hexHash(concat(col("doc_id").cast("string"), lit("|"), col("lang"))) % 100)
      .filter(col("pct") < coalesce(element_at(rate, col("lang")), lit(0L)))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Epoch shuffle: seed-stable sharded permutation of the corpus — every
    * shard a uniform sample, position within shard exact. */
  def eCorpusShuffle(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusShuffle.shuffle(
        Tables.documents(s, d), "doc_id", "epoch0", nShards = 8)
      .select(col("doc_id"), col("shard"), col("shard_pos"))
      .orderBy("doc_id")

  /** Shuffle-quality audit of the epoch ordering: per shard, the rate of
    * ADJACENT same-source pairs in training order vs the rate an
    * independent draw would produce (Σ p_source² over the corpus) — the
    * meter a training run reads before trusting an epoch order (domain
    * clumping in the batch stream shows up as loss spikes long before
    * anything else does). clump_ratio ≈ 1 = well mixed; >> 1 = clumped.
    *
    * Scale shape: the adjacency lag runs under the SAME shard-partitioned
    * window discipline as the shuffle itself (parallelism = nShards, the
    * production knob); source probabilities are one tiny aggregation
    * crossed in as a broadcast one-row scalar frame. */
  def eShuffleQuality(s: SparkSession, d: String): DataFrame = {
    val shuffled = graft.operators.CorpusShuffle.shuffle(
      Tables.documents(s, d), "doc_id", "epoch0", nShards = 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("shard_pos"))
    val perShard = shuffled
      .withColumn("prev_source", lag(col("source"), 1).over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        // (null === x) is null → first row of each shard never counts
        coalesce(sum((col("prev_source") === col("source")).cast("long")),
          lit(0L)).as("n_adj_same"))
    val pSame = Tables.documents(s, d)
      .groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg((sum(col("c") * col("c")).cast("double") /
        (sum(col("c")).cast("double") * sum(col("c")).cast("double")))
        .as("p_same"))
    perShard.crossJoin(broadcast(pSame))
      .select(col("shard"), col("n_rows"), col("n_adj_same"),
        round(col("n_adj_same") / (col("n_rows") - 1), 6).as("adj_same_rate"),
        round(col("p_same"), 6).as("expected_rate"),
        round((col("n_adj_same") / (col("n_rows") - 1)) / col("p_same"), 6)
          .as("clump_ratio"))
      .orderBy("shard")
  }

  /** Curriculum ordering: short docs first in coarse length stages, seed-
    * shuffled within each stage; the exact global training position per
    * doc, computed via the histogram two-pass (no global window). */
  def eCurriculumOrder(s: SparkSession, d: String): DataFrame = {
    val stage = least(floor(col("n_chars") / 100), lit(9L))
    graft.operators.CorpusShuffle.curriculumOrder(
        Tables.documents(s, d), "doc_id", stage, "epoch0", subBins = 64)
      .select(col("doc_id"), stage.cast("long").as("stage"), col("global_pos"))
      .orderBy("doc_id")
  }

  /** Per-source scorecard: the curation deliverable for deciding which
    * crawls/sources to keep, grow, or drop — docs, token volume, mean
    * quality, language spread, and exact-dup rate per source, all in one
    * corpus scan + one map-side-combined aggregation.
    *
    * Determinism note: mean quality aggregates the per-doc 6-dp score as
    * an exact integer (score·10⁶) so the sum is order-independent —
    * averaging raw doubles would expose FP summation order between
    * engines. */
  def eSourceScorecard(s: SparkSession, d: String): DataFrame = {
    val q6 = round(TextAnalysis.qualityScore(col("text")) * 1e6).cast("long")
    Tables.documents(s, d)
      .select(col("source"), col("lang"),
        TextAnalysis.unicodeTokenCount(col("text")).as("toks"), q6.as("q6"),
        md5(trim(lower(col("text")))).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        round(sum(col("q6")).cast("double") /
          (count(lit(1)) * lit(1000000.0)), 6).as("avg_quality"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("h")).as("n_distinct_texts"),
        round(lit(1.0) - countDistinct(col("h")).cast("double") /
          count(lit(1)).cast("double"), 6).as("exact_dup_rate"))
      .orderBy("source")
  }

  // ---------------- URL/host-grain curation ----------------

  // The documents fixture carries no URL column, so the queries derive a
  // deterministic one from (doc_id, lang, source) — scheme/www/port/query
  // variation keyed on doc_id residues, host = [www.]<lang>.<source>.org
  // (domains differentiate by source, subdomains by lang). The OPERATOR
  // under grade is the host parse + domain rollup, not the fixture.
  private def syntheticUrl: Column = concat(
    when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
    when(col("doc_id") % 7 === 0, lit("www.")).otherwise(lit("")),
    col("lang"), lit("."), col("source"),
    // TLD varies by residue so the public-suffix branch of
    // registrableDomain is really exercised: a .co.uk / .com.au host
    // must roll up to <source>.co.uk, NOT collapse to the bare suffix
    when(col("doc_id") % 4 === 1, lit(".co.uk"))
      .when(col("doc_id") % 4 === 2, lit(".com.au"))
      .otherwise(lit(".org")),
    when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
    lit("/"), col("lang"), lit("/"), col("doc_id").cast("string"),
    when(col("doc_id") % 3 === 0, lit("?ref=rss")).otherwise(lit("")))

  /** The same URL, host parse (scheme/path/query/port stripped — the
    * string-function mirror of Spark's `parse_url(url, 'HOST')`) and
    * last-two-label registrable domain in DuckDB SQL. */
  private val urlCtes: String = {
    val hostExpr = "split_part(split_part(split_part(" +
      "regexp_replace(url, '^[a-z]+://', ''), '/', 1), '?', 1), ':', 1)"
    val psl = graft.functions.UrlCuration.PublicSuffixes
      .map(sfx => s"'$sfx'").mkString(", ")
    s"""u AS (SELECT doc_id, lang, source, text,
       |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
       |  (CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END) ||
       |  lang || '.' || source ||
       |  (CASE WHEN doc_id % 4 = 1 THEN '.co.uk'
       |        WHEN doc_id % 4 = 2 THEN '.com.au' ELSE '.org' END) ||
       |  (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
       |  '/' || lang || '/' || CAST(doc_id AS VARCHAR) ||
       |  (CASE WHEN doc_id % 3 = 0 THEN '?ref=rss' ELSE '' END) AS url
       |  FROM documents),
       |hh AS (SELECT *, $hostExpr AS host FROM u),
       |hd AS (SELECT *, CASE
       |    WHEN len(string_split(host, '.')) >= 3
       |      AND array_to_string(string_split(host, '.')[-2:], '.') IN ($psl)
       |    THEN array_to_string(string_split(host, '.')[-3:], '.')
       |    WHEN len(string_split(host, '.')) >= 2
       |    THEN array_to_string(string_split(host, '.')[-2:], '.')
       |    ELSE host END AS domain FROM hh)""".stripMargin
  }

  /** Blocked registrable domains for the filter query (source-keyed, so
    * the filter visibly drops whole feeds). */
  private val BlockedDomains =
    Seq("src3.org", "src7.org", "src13.org", "src3.co.uk", "src5.com.au")

  /** Domain blocklist filter over the derived URL column: docs whose
    * registrable domain is blocked drop; survivors report host + domain.
    * One scan, InSet probe per row ([[graft.functions.UrlCuration]]). */
  def eDomainFilter(s: SparkSession, d: String): DataFrame =
    graft.functions.UrlCuration.domainFilter(
        Tables.documents(s, d).withColumn("url", syntheticUrl),
        "url", BlockedDomains)
      .select(col("doc_id"), col("host"), col("domain"))
      .orderBy("doc_id")

  /** Per-host curation scorecard — the host-grain sibling of
    * [[eSourceScorecard]]: docs, tokens, language spread, exact-dup rate
    * per parsed host, with the registrable domain each host rolls up
    * to. */
  def eHostScorecard(s: SparkSession, d: String): DataFrame =
    graft.functions.UrlCuration.hostScorecard(
      Tables.documents(s, d).withColumn("url", syntheticUrl), "url", "text")

  /** Full public-suffix GRAMMAR fixture (round 14): hosts derived from
    * (lang, source) so every rule KIND of
    * [[graft.functions.UrlCuration.PublicSuffixList]] fires — the
    * default rule (.org), a 2-label exact rule (.co.uk/.com.au), a
    * wildcard rule at two depths (`*.ck`), its exception (`!www.ck`), a
    * 2-label-parent wildcard (`*.nagoya.jp`) with its exception
    * (`!city.nagoya.jp`), and a 4-label exact rule (`pvt.k12.ma.us`).
    * The oracle writes each pattern's expected registrable domain
    * directly from publicsuffix.org semantics — an independent
    * derivation, not a mirror of the engine's ladder. */
  def ePslDomains(s: SparkSession, d: String): DataFrame = {
    val m = col("doc_id") % 9
    val host =
      when(m === 0, concat(col("lang"), lit("."), col("source"), lit(".org")))
        .when(m === 1, concat(lit("www."), col("source"), lit(".co.uk")))
        .when(m === 2, concat(lit("shop."), col("source"), lit(".ck")))
        .when(m === 3, lit("www.ck"))
        .when(m === 4, concat(lit("a.b."), col("source"), lit(".ck")))
        .when(m === 5, concat(col("lang"), lit("."), col("source"), lit(".com.au")))
        .when(m === 6, concat(col("source"), lit(".pvt.k12.ma.us")))
        .when(m === 7, concat(lit("x.blog."), col("source"), lit(".nagoya.jp")))
        .otherwise(lit("www.city.nagoya.jp"))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), host.as("host"))
      // BOTH resolution paths (round 15): the codegen InSet ladder AND
      // the broadcast-lookup-join scale path answer in one row — the
      // oracle's independently derived expectation grades each.
      .withColumn("domain",
        graft.functions.UrlCuration.registrableDomain(col("host")))
    graft.functions.UrlCuration
      .registrableDomainsByJoin(base, "host", out = "domain_join")
      .select(col("doc_id"), col("host"), col("domain"), col("domain_join"))
      .orderBy("doc_id")
  }

  /** Per-host dedup weighting — the RefinedWeb/CCNet-style sampler input:
    * for each parsed host, how many of its docs the near-dup apply would
    * drop (the `e_dedup_apply` survivor convention over the memoized
    * MinHash pairs) and the resulting survivor-share weight a host-aware
    * sampler multiplies in. Rides the pair memo + the host projection —
    * one flag join + a hosts-bounded aggregation. */
  def eHostDupWeight(s: SparkSession, d: String): DataFrame = {
    val removed = minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_removed", lit(1L))
    graft.functions.UrlCuration.withHost(
        Tables.documents(s, d).withColumn("url", syntheticUrl), "url")
      .join(removed, Seq("doc_id"), "left")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_removed"), lit(0L))).as("n_removed"))
      .select(col("host"), col("n_docs"), col("n_removed"),
        round(lit(1.0) - col("n_removed").cast("double") /
          col("n_docs").cast("double"), 6).as("host_weight"))
      .orderBy("host")
  }

  /** Raw-URL VARIANT fixture for the canonicalization query: docs
    * sharing (source, doc_id % 17) name the same page, but the raw URL
    * varies by scheme, `www.`, an explicit default `:443` port, a
    * trailing slash, tracking params (sometimes ORDERED before the real
    * one), and a fragment — exactly the variance
    * [[graft.functions.UrlCuration.canonicalUrl]] must collapse. */
  private def syntheticUrlVariant: Column = {
    val pid = (col("doc_id") % 17).cast("string")
    concat(
      when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
      when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
      col("source"), lit(".org"),
      when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), pid,
      when(col("doc_id") % 13 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit("?utm_medium=social&id="), pid))
        .otherwise(concat(lit("?id="), pid,
          when(col("doc_id") % 3 === 0, lit("&utm_source=feed"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("&ref=rss")).otherwise(lit("")))),
      when(col("doc_id") % 19 === 0, lit("#frag")).otherwise(lit("")))
  }

  /** URL-canonicalization dedup summary: per canonical key, how many
    * documents and DISTINCT raw variants collapsed into it and the
    * keeper (min doc_id) — the crawl-side dedup that runs before any
    * content hash. Canonicalization is per-row column work; the summary
    * is one keys-bounded aggregation. */
  def eUrlCanonical(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("url", syntheticUrlVariant)
      .select(col("doc_id"), col("url"),
        graft.functions.UrlCuration.canonicalUrl(col("url")).as("curl"))
      .groupBy(col("curl").as("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_variants"),
        min(col("doc_id")).as("keeper_doc"))
      .orderBy("canonical_url")

  // ---------------- HTML/markup extraction ----------------

  /** The documents fixture is plain text, so the query wraps each row in
    * a deterministic HTML envelope — title, a script block whose payload
    * contains a bare `<` (the classic naive-tag-regex trap), a style
    * block, a comment, and entity-encoded spans injected into the body —
    * then grades the EXTRACTOR: title pull, tag-density count, and the
    * visible text recovered by [[graft.functions.Markup.stripHtml]]. */
  private def syntheticHtml: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id"),
    lit(" ("), col("lang"), lit(")</title>"),
    lit("<script type=\"text/javascript\">var n = 1 < 2;</script>"),
    lit("<style>p { color: red; }</style></head><body><!-- src: "),
    col("source"), lit(" --><h1>"), upper(col("lang")), lit("</h1><p>"),
    replace(col("text"), lit(" row "), lit(" &quot;row&quot; ")),
    lit("</p><p>tail &amp; done</p></body></html>"))

  /** HTML extraction report: per document the parsed `<title>`, the raw
    * markup's tag count, and the length + md5 of the recovered visible
    * text — integer/string-exact, so the oracle compare is bit-strict.
    * Pure per-row codegen'd column work over one scan (no shuffle; at
    * 100 TB this costs exactly one projection pass). */
  def eHtmlStrip(s: SparkSession, d: String): DataFrame = {
    val m = graft.functions.Markup
    Tables.documents(s, d)
      .withColumn("html", syntheticHtml)
      .select(col("doc_id"), m.title(col("html")).as("title"),
        m.tagCount(col("html")).as("n_tags"),
        length(m.stripHtml(col("html"))).cast("long").as("clean_chars"),
        md5(m.stripHtml(col("html"))).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Length-bucket padding report over the fixed power-of-two caps —
    * [[graft.functions.CorpusFilters.lengthBuckets]]. */
  def eLengthBuckets(s: SparkSession, d: String): DataFrame =
    graft.functions.CorpusFilters.lengthBuckets(
      Tables.documents(s, d), "text", LenBucketCaps)

  /** Gopher-style repetition filter over the corpus (CorpusFilters). */
  def eRepetitionFilter(s: SparkSession, d: String): DataFrame =
    graft.functions.CorpusFilters
      .repetitionSignals(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** Benchmark decontamination: every ~1% of doc_ids (id % 97 == 0) plays
    * the held-out eval set; the rest of the corpus is scanned for shared
    * distinct 3-shingles against its broadcast hash set. */
  def eDecontam(s: SparkSession, d: String): DataFrame =
    decontamHits(s, d).orderBy("doc_id")

  /** Sequence packing into 512-token training packs over 8 hash-shards. */
  def ePackSequences(s: SparkSession, d: String): DataFrame =
    graft.functions.CorpusFilters
      .packSequences(Tables.documents(s, d), "doc_id", "text",
        tokenBudget = 512, nShards = 8)
      .orderBy("doc_id")

  /** PII redaction: masked text + per-doc match count. */
  def ePiiRedact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextAnalysis.redactPii(col("text")).as("redacted"),
        graft.functions.TextAnalysis.piiCount(col("text")).as("n_pii"))
      .orderBy("doc_id")

  /** Leakage-safe train/val/test split: near-dup clusters (3-round label
    * propagation over the memoized MinHash graph) hashed INTO splits as
    * whole clusters, so no near-duplicate straddles train and eval. */
  def eLeakageSplit(s: SparkSession, d: String): DataFrame =
    graft.functions.DatasetSplit
      .leakageSafeSplit(nearDupClusters(s, d), "cluster_id",
        trainPct = 80, valPct = 10)
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")

  /** Mixture budgets for `e_mixture_sample` (tokens per language; zh absent
    * = dropped). Chosen to cut mid-corpus at both sf0.01 and sf0.1. */
  private val MixBudgets = Map("en" -> 6000L, "de" -> 2000L,
    "fr" -> 2500L, "es" -> 1500L)

  /** Deterministic mixture sampling to per-language token budgets via the
    * histogram-cut TokenBudgetSample (no per-domain global window). */
  def eMixtureSample(s: SparkSession, d: String): DataFrame =
    graft.operators.TokenBudgetSample(
      Tables.documents(s, d), "doc_id", "lang",
      graft.functions.TextAnalysis.unicodeTokenCount(col("text")),
      budgets = MixBudgets)
      .orderBy("doc_id")

  /** Incremental dedup of a "new" batch (doc_id % 10 == 0) against the
    * existing corpus via Bloom prefilter + exact confirm — result equals
    * the plain anti-join (Bloom has no false negatives), so it oracles. */
  def eBloomDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def key = trim(lower(col("text")))
    graft.dedup.BloomDedup.freshDocs(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), key)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Deterministic 2-round Lloyd k-means over the embeddings table:
    * centroids seed from vec_id % 50 == 1 (10 clusters at sf0.01), the
    * clustering primitive for semantic dedup / diversity sampling. */
  def eKmeans(s: SparkSession, d: String): DataFrame =
    graft.similarity.KMeans.summarize(kmeansAssigned(s, d))
      .orderBy("vec_id")

  /** Cluster-quality meter: simplified (centroid-based) silhouette per
    * vector — the number read before trusting k or the seeding, and the
    * acceptance gate in front of every clustering consumer (SemDeDup,
    * diversity sampling, IVF cells). Rides the kmeansAssigned memo;
    * per-vector distances to all k means are k codegen dot products in
    * one narrow scan (no join, no shuffle). */
  def eKmeansSilhouette(s: SparkSession, d: String): DataFrame =
    graft.similarity.KMeans.silhouette(kmeansAssigned(s, d))
      .orderBy("vec_id")

  /** Embedding-space outlier filter: z-score of each vector's squared
    * centroid distance against its cluster's population stats, flagged at
    * z ≥ EmbedOutlierZ — the far-tail complement to SemDeDup's dense-core
    * pruning. Rides the kmeansAssigned memo (name-ordered before its
    * release point, e_semantic_dedup). */
  def eEmbedOutliers(s: SparkSession, d: String): DataFrame =
    graft.similarity.KMeans.distanceOutliers(kmeansAssigned(s, d),
        zCut = EmbedOutlierZ)
      .orderBy("vec_id")

  /** Exact-substring dedup APPLIED (Lee et al. 2022 removal policy):
    * every duplicated ≥ SpanDedupL-word span loses all but its globally
    * first occurrence; per-doc removal profile + a hash of the cleaned
    * text (the text itself stays in the engine). */
  def eSpanDedupApply(s: SparkSession, d: String): DataFrame =
    Dedup.exactSpanDedup(Tables.documents(s, d), "doc_id", "text",
        spanWords = SpanDedupL)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        Dedup.hexHash(col("clean_text")).as("clean_hash"))
      .orderBy("doc_id")

  /** Overlapping sliding-window chunking — the retrieval-corpus prep
    * step: ceil-covering `ChunkSize`-token windows advancing by
    * `ChunkStride`, with provenance and a 56-bit chunk hash. Entirely
    * in-row (narrow scan, no shuffle). */
  def eChunkOverlap(s: SparkSession, d: String): DataFrame =
    graft.operators.SlidingChunks.chunks(
        Tables.documents(s, d), "doc_id", "text", ChunkSize, ChunkStride)
      .orderBy("doc_id", "chunk_idx")

  /** SemDeDup-style semantic dedup: k-means clusters as the candidate
    * buckets, exact within-cluster cosine >= 0.35 pairs, one representative
    * (min vec_id) per connected near-dup group. */
  def eSemanticDedup(s: SparkSession, d: String): DataFrame =
    graft.similarity.KMeans.semanticDedupAssigned(kmeansAssigned(s, d),
        minCosine = 0.35)
      .orderBy("vec_id")

  /** kNN label-vote accuracy — the embedding-quality eval a retrieval or
    * clustering deployment reads before trusting the space: each vector's
    * label against the majority label of its [[KnnK]] nearest
    * within-cell neighbors (cosine desc, id-asc ties, on the 6-dp
    * ROUNDED score so the ranking is FP-order stable), aggregated per
    * label. Neighborhoods come from the memoized k-means cells — the IVF
    * candidate discipline: pair work ∝ Σ cell², never n²; a vector alone
    * in its cell abstains (no neighbors, no vote). The top-k cut is the
    * bounded GroupedTopK Aggregator, not a window. */
  def eKnnAccuracy(s: SparkSession, d: String): DataFrame = {
    val withN = kmeansAssigned(s, d)
      .select(col("vec_id"), col("v"), col("cid"),
        sqrt(graft.plans.VectorExpressions.vecDot(col("v"), col("v"))).as("nrm"))
    // bounded-eval sample: only the even-id half plays query; every
    // vector still serves as a candidate neighbor
    val a = withN.filter(col("vec_id") % KnnEvalMod === 0)
      .select(col("vec_id").as("q"), col("v").as("qv"),
        col("cid"), col("nrm").as("qn"))
    val b = withN.select(col("vec_id").as("nb"), col("v").as("nv"),
      col("cid"), col("nrm").as("nn"))
    val scored = a.join(b, Seq("cid")).filter(col("q") =!= col("nb"))
      .select(col("q"), col("nb"),
        round(graft.plans.VectorExpressions.vecDot(col("qv"), col("nv")) /
          (col("qn") * col("nn")), 6).as("cos"))
    val top = graft.operators.GroupedTopK.topKPerKey(
      scored, keyCol = "q", scoreCol = "cos", idCol = "nb", k = KnnK)
    val labels = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = top.select(col("q").cast("long").as("q"), col("nb"))
      .join(labels.select(col("vec_id").as("nb"), col("label").as("nl")),
        Seq("nb"))
      .groupBy(col("q"), col("nl")).agg(count(lit(1)).as("cnt"))
    // majority vote, smallest label on ties — min-struct argmax, no window
    val pred = votes.groupBy(col("q"))
      .agg(min(struct((-col("cnt")).as("nc"), col("nl").as("nl"))).as("bst"))
      .select(col("q").as("vec_id"), col("bst.nl").as("predicted"))
    pred.join(labels, Seq("vec_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("predicted") === col("label")).cast("long")).as("n_correct"))
      .select(col("label"), col("n_vecs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_vecs").cast("double"), 6)
          .as("accuracy"))
      .orderBy("label")
  }

  /** CLIP-style cross-modal alignment over the shared embedding space:
    * each multimodal pair binds the text embedding `vec_id` to its image
    * embedding — the SAME id for aligned pairs, a deterministically
    * shifted one (`vec_id + 17`, inner-join dropping out-of-range) for
    * the `% 11` mismatched-caption slice. The pair's cosine agreement and
    * both sides' IVF cell come from the memoized k-means assignment (the
    * quantizer trains once for search AND alignment); `aligned` cuts the
    * rounded cosine at 0.9 — mismatched captions score the cosine of two
    * unrelated embeddings and fail the cut. */
  def eCrossmodalAlign(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.embeddings(s, d).select(
      col("vec_id").as("pair_id"), col("vec_id").as("text_id"),
      when(col("vec_id") % 11 === 0, col("vec_id") + 17)
        .otherwise(col("vec_id")).as("img_id"))
    Similarity.crossModalAlignment(pairs,
        kmeansAssigned(s, d).select(col("vec_id"), col("v"), col("cid")),
        minCosine = 0.9)
      .orderBy("pair_id")
  }

  /** Embedding-drift monitor: per IVF cell, the cosine between the
    * centroid of the even-id slice and the odd-id slice (a stand-in for
    * "last release" vs "this release") plus both occupancies — the
    * canary an embedding deployment watches for encoder or corpus drift
    * before re-indexing. Rides the memoized k-means assignment; all
    * aggregations are (cells × dims)-bounded. A single-parity cell
    * reports a null cosine (nothing to compare). */
  def eEmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val a = kmeansAssigned(s, d).select(col("vec_id"), col("v"), col("cid"),
      (col("vec_id") % 2 === 0).as("even"))
    val m = a.select(col("cid"), col("even"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("even"), col("pos"))
      .agg(avg(col("x")).as("m"))
    val me = m.filter(col("even"))
      .select(col("cid"), col("pos"), col("m").as("m1"))
    val mo = m.filter(!col("even"))
      .select(col("cid"), col("pos"), col("m").as("m2"))
    val cosx = me.join(mo, Seq("cid", "pos"))
      .groupBy(col("cid"))
      .agg(sum(col("m1") * col("m2")).as("dp"),
        sum(col("m1") * col("m1")).as("n1"),
        sum(col("m2") * col("m2")).as("n2"))
      .select(col("cid"),
        round(col("dp") / (sqrt(col("n1")) * sqrt(col("n2"))), 6)
          .as("centroid_cos"))
    a.groupBy(col("cid"))
      .agg(sum(col("even").cast("long")).as("n_even"),
        sum((!col("even")).cast("long")).as("n_odd"))
      .join(cosx, Seq("cid"), "left")
      .select(col("cid").as("cell_id"), col("n_even"), col("n_odd"),
        col("centroid_cos"))
      .orderBy("cell_id")
  }

  /** Corpus vocabulary: the 50 most frequent tokens with counts and ranks —
    * one explode + map-side-combining count, then TakeOrdered for the
    * bounded head (never a full sort of the vocabulary). */
  def eVocabulary(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(trim(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)
      .withColumn("rank",
        // the rank window reads the 50-row post-limit frame, so one
        // partition is the CORRECT plan — Spark 4.1's
        // EliminateWindowPartitions folds the lit(0) key away and logs
        // its unpartitioned-window warning; acceptable because the
        // input is bounded by the limit above
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("n").desc, col("token").asc)).cast("long"))
      .orderBy("rank")

  /** [[eVocabulary]] under the unicode tokenizer: NFKC + `[\p{L}\p{N}]+`
    * runs instead of whitespace splits — punctuation-glued spellings
    * collapse ("word," and "word" count together), so counts differ from
    * `e_vocabulary` by design. Same scale shape: explode + map-side
    * count + bounded head. */
  def eVocabularyUnicode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(
        graft.functions.TextAnalysis.unicodeTokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)
      .withColumn("rank",
        // bounded 50-row post-limit frame — see eVocabulary's note
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("n").desc, col("token").asc)).cast("long"))
      .orderBy("rank")

  /** Per-doc token statistics under the unicode tokenizer — total and
    * distinct `[\p{L}\p{N}]+` runs after NFKC. One narrow codegen scan
    * (normalize + regex extraction are in-row; no shuffle at all). */
  def eTokenUnicode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextAnalysis.unicodeTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .orderBy("doc_id")

  /** Language-ID confidence margin: per doc, the gap between the best and
    * second-best language's stopword hit rate — the number that separates
    * "confidently English" from "coin-flip between es/fr" (route
    * low-margin docs to a heavier classifier, or drop them from
    * monolingual slices). Pure in-row column work over one scan: the k
    * per-language hit counts sort inside a 4-element array. */
  def eLangidMargin(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextAnalysis.unicodeTokens(col("text"))
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scores = langs.map(l => TextAnalysis.stopwordHits(toks, l).cast("long"))
    val sorted = sort_array(array(scores: _*), asc = false)
    val best = element_at(sorted, 1)
    val second = element_at(sorted, 2)
    Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.langIdFromToks(toks).as("predicted"),
      best.as("best_hits"), second.as("second_hits"),
      round((best - second).cast("double") /
        greatest(size(toks).cast("double"), lit(1.0)), 6).as("margin"))
      .orderBy("doc_id")
  }

  /** Tokenizer coverage curve: the fraction of all corpus token INSTANCES
    * a top-k frequency-ranked vocabulary covers, at several k — the
    * planning number read next to [[eVocabGrowth]]'s Heaps curve and
    * [[eOovRate]]'s per-doc misses before committing to a vocabulary
    * size. Scale shape: one map-side-combined count + ONE TakeOrdered
    * head of max(k) rows; the k cuts and the total cross in as broadcast
    * bounded frames — the vocabulary itself is never globally sorted. */
  def eVocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ks = Seq(5L, 10L, 20L, 30L)
    val counts = Tables.documents(s, d)
      .select(explode(graft.functions.TextAnalysis.unicodeTokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val head = counts
      .orderBy(col("n").desc, col("token").asc)
      .limit(ks.max.toInt)
      .withColumn("rank",
        // bounded max(k)-row post-limit frame — see eVocabulary's note
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("n").desc, col("token").asc)).cast("long"))
    ks.toDF("k")
      .crossJoin(broadcast(head))
      .filter(col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(col("n")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("covered"), col("total"),
        round(col("covered").cast("double") / col("total").cast("double"), 6)
          .as("coverage"))
      .orderBy("k")
  }

  /** Heavy hitters by count-min estimate: top tokens ranked by the sketch's
    * (one-sided, collision-bounded) frequency estimate — the fixed-memory
    * alternative to the exact `e_vocabulary` count when the vocabulary
    * itself is too large to shuffle. Deterministic (md5-hash rows, summed
    * counters), so fully oracled. */
  def eHeavyHitters(s: SparkSession, d: String): DataFrame =
    graft.operators.CountMinSketch.heavyHitters(
        Tables.documents(s, d), "text", k = CmsTopK,
        depth = CmsDepth, width = CmsWidth)
      .orderBy("rank")

  /** End-to-end corpus-curation funnel — the whole cleaning pipeline as ONE
    * plan, reporting survivors after each stage:
    *   1 raw → 2 benchmark held-out removed (doc_id % 97) → 3 quality
    *   ≥ 0.55 → 4 exact dedup (min-id survivor per normalized content,
    *   within the surviving set) → 5 MinHash near-dup removal (pair table
    *   computed ONCE over the full corpus — the standard precomputed
    *   artifact — higher id of each est ≥ 0.5 pair drops) → 6 benchmark
    *   n-gram decontamination.
    * All flags compute in one scan + three joins/windows, then a single
    * aggregate + stack unpivot — the funnel costs one pass over the corpus
    * plus the (memoized) pair table, not six. */
  def eCurationFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dupDrop = minhashPairs(s, d).filter(col("est_jaccard") >= 0.5)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    val contaminated = decontamHits(s, d)
      .select(col("doc_id")).withColumn("is_cont", lit(true))
    val contentW = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(trim(lower(col("text")))))
    val c2 = col("doc_id") % 97 =!= 0
    val c3 = c2 && TextAnalysis.qualityScore(col("text")) >= 0.55
    val flagged = docs
      .join(dupDrop, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("c2", c2)
      .withColumn("c3", c3)
      .withColumn("c4", c3 &&
        col("doc_id") === min(when(c3, col("doc_id"))).over(contentW))
    val stages = flagged
      .withColumn("c5", col("c4") && col("is_dup").isNull)
      .withColumn("c6", col("c4") && col("is_dup").isNull && col("is_cont").isNull)
    def surv(c: String) = sum(when(col(c), 1L)).cast("long")
    stages.agg(count(lit(1)).as("n1"), surv("c2").as("n2"), surv("c3").as("n3"),
        surv("c4").as("n4"), surv("c5").as("n5"), surv("c6").as("n6"))
      .select(expr(
        """stack(6,
          |  CAST(1 AS BIGINT), 'raw', n1,
          |  CAST(2 AS BIGINT), 'benchmark_removed', n2,
          |  CAST(3 AS BIGINT), 'quality', n3,
          |  CAST(4 AS BIGINT), 'exact_dedup', n4,
          |  CAST(5 AS BIGINT), 'near_dup', n5,
          |  CAST(6 AS BIGINT), 'decontaminated', n6) AS (stage, stage_name, n_docs)
          |""".stripMargin))
      .orderBy("stage")
  }

  /** Best-5 documents per language by quality score — grouped top-k via the
    * bounded map-side-combining Aggregator, not a full-window shuffle. */
  def eTopQualityDocs(s: SparkSession, d: String): DataFrame =
    graft.operators.GroupedTopK.topKPerKey(
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality_score")),
        keyCol = "lang", scoreCol = "quality_score", idCol = "doc_id", k = 5)
      .withColumnRenamed("score", "quality_score")
      .orderBy("lang", "rank")

  /** Cluster-balanced diversity sample: the 10 most peripheral members of
    * each k-means cluster (dense duplicated cores shrink, outliers stay). */
  def eClusterSample(s: SparkSession, d: String): DataFrame =
    graft.similarity.KMeans.diversitySampleSummarized(
        graft.similarity.KMeans.summarize(kmeansAssigned(s, d)), perCluster = 10)
      .orderBy("vec_id")

  /** Passage-level exact dedup: repeated 10-token windows keep only their
    * first (doc_id, pos) occurrence; docs reassemble from survivors. */
  def ePassageDedup(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.passageDedup(Tables.documents(s, d), "doc_id", "text",
        passageTokens = 10)
      .orderBy("doc_id")

  /** CCNet-style boilerplate removal: every instance of a 10-token segment
    * present in >= 3 distinct docs drops (cross-document ubiquity = no
    * training signal); docs reassemble from the survivors. */
  def eBoilerplateLines(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.boilerplateRemove(Tables.documents(s, d), "doc_id", "text",
        segTokens = 10, minDocFreq = 3)
      .orderBy("doc_id")

  def eMultimodalMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        encode(col("text"), "utf-8").as("content"))
      .select(col("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")

  // ---------------- generated DuckDB oracles ----------------

  /** tokens CTE fragment — the UNICODE tokenizer mirror (round 13: the
    * engine default flipped, so the shared shingle CTE mirrors
    * `TextAnalysis.unicodeTokens`): NFKC is identity on this ASCII corpus
    * and RE2's `\p{L}\p{N}` general categories agree with java.util.regex
    * (the `e_token_unicode` precedent), so the CTE reproduces the Spark
    * side exactly; non-ASCII NFKC behavior is spec-proven
    * (NfkcNormalizeSpec + UnicodeDedupSpec) because DuckDB ships no
    * normalizer. */
  private val toksCte =
    """toks AS (SELECT doc_id, regexp_extract_all(text, '[\p{L}\p{N}]+') AS t FROM documents)"""

  /** Alias kept for the explicitly-named unicode queries
    * (`e_dedup_unicode` / `e_decontam_unicode`) — identical to [[toksCte]]
    * since the default flip. */
  private val toksCteUnicode = toksCte

  /** shingle CTE: same floor-at-one-shingle semantics as Dedup.shingles. */
  private def shCte(distinct: Boolean) = {
    val sel = if (distinct) "SELECT DISTINCT" else "SELECT"
    s"""sh AS ($sel doc_id, unnest(list_transform(range(1, greatest(len(t) - ${W - 1}, 1) + 1),
       |  i -> array_to_string(t[i:i+${W - 1}], ' '))) AS sh FROM toks)""".stripMargin
  }

  /** 56-bit hex hash fragment — must equal Dedup.hexHash bit-for-bit. */
  private def hexHashSql(expr: String, salt: String = ""): String = {
    val salted = if (salt.isEmpty) expr else s"'$salt' || $expr"
    s"('0x' || substring(md5($salted), 1, 14))::BIGINT"
  }

  /** Per-doc-distinct hashed shingle CTE chain (`… → hsh(doc_id, sh)`):
    * distinct on the shingle STRING first, then hash — the exact mirror of
    * `Dedup.shingleBases` (array_distinct before md5), shared by the
    * jaccard, decontamination, and curation-funnel oracles. */
  private val hshCtes =
    s"""sdis AS (SELECT DISTINCT doc_id, sh FROM sh),
       |hsh AS (SELECT doc_id, ${hexHashSql("sh")} AS sh FROM sdis)""".stripMargin

  private val sigsCte = {
    val mins = (0 until K).map(i => s"min(b1 + $i * b2) AS h$i").mkString(", ")
    s"""dig AS (SELECT doc_id, md5(sh) AS dig FROM sh),
       |based AS (SELECT doc_id,
       |  ('0x' || substring(dig, 1, 14))::BIGINT AS b1,
       |  ('0x' || substring(dig, 15, 14))::BIGINT AS b2 FROM dig),
       |sigs AS (SELECT doc_id, $mins FROM based GROUP BY doc_id)""".stripMargin
  }

  private val bandsCte = {
    val nBands = K / BandRows
    val parts = (0 until nBands).map { b =>
      val key = (0 until BandRows).map(r => s"h${b * BandRows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', $key)) AS band_key FROM sigs"
    }
    s"bands AS (${parts.mkString(" UNION ALL ")})"
  }

  /** Full-batch minhash candidate SQL; `pairPred` restricts the emitted
    * pairs (the incremental oracle keeps only pairs touching the
    * increment — exactly what the index-probe path surfaces); `toks`
    * picks the tokenizer CTE ([[toksCte]] legacy whitespace or
    * [[toksCteUnicode]]). */
  private def minhashOracleSql(pairPred: String = "TRUE",
                               toks: String = toksCte) = {
    val matchSum = (0 until K)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $toks,
       |${shCte(distinct = false)},
       |$sigsCte,
       |$bandsCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT p.doc_a, p.doc_b, round(($matchSum) / $K.0, 6) AS est_jaccard
       |FROM pairs p
       |JOIN sigs sa ON p.doc_a = sa.doc_id
       |JOIN sigs sb ON p.doc_b = sb.doc_id
       |WHERE $pairPred
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val minhashOracle = minhashOracleSql()

  // The high-confidence near-dup graph (est_jaccard >= 0.5 candidate
  // pairs, doc_a < doc_b) as a reusable CTE chain ending in `est` — the
  // shared subgraph of the graph-analytics oracles (authority, triangles,
  // k-core) and the Spark side's minhashPairs(...).filter(est >= 0.5).
  private lazy val nearDupGraphCtes: String = {
    val matchSum = (0 until K)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$toksCte,
       |${shCte(distinct = false)},
       |$sigsCte,
       |$bandsCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |est AS (SELECT p.doc_a, p.doc_b FROM pairs p
       |  JOIN sigs sa ON p.doc_a = sa.doc_id
       |  JOIN sigs sb ON p.doc_b = sb.doc_id
       |  WHERE ($matchSum) / $K.0 >= 0.5)""".stripMargin
  }

  // T5 span corruption: identical position arithmetic (0-based residues),
  // 1-based list indexing on both sides, inclusive DuckDB slices sized
  // to SpanCorrLen elements.
  private val spanCorruptionOracle = {
    val (ev, ph, sl) = (SpanCorrEvery, SpanCorrPhase, SpanCorrLen)
    s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS toks,
       |  len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS n FROM documents),
       |c AS (SELECT doc_id, toks, n,
       |  list_filter(range(n), p -> p % $ev = $ph AND p + $sl <= n)
       |    AS starts,
       |  list_transform(range(n), p -> CASE
       |    WHEN p % $ev = $ph AND p + $sl <= n
       |      THEN '<X' || CAST((p - $ph) // $ev AS VARCHAR) || '>'
       |    WHEN p % $ev - $ph > 0 AND p % $ev - $ph < $sl
       |      AND (p - (p % $ev - $ph)) + $sl <= n THEN ''
       |    ELSE toks[p + 1] END) AS ia FROM t)
       |SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_spans,
       |  array_to_string(list_filter(ia, x -> x <> ''), ' ') AS input,
       |  array_to_string(list_transform(starts, s ->
       |    '<X' || CAST((s - $ph) // $ev AS VARCHAR) || '> ' ||
       |    array_to_string(toks[s + 1:s + $sl], ' ')), ' ') AS target
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // Confident-learning-lite: argmax + labeled-class score from the shared
  // NB score CTE; the margin filter runs on the ROUNDED value in both
  // engines so the cut is FP-order stable.
  // lazy: nbCtes is declared later in the file (declaration-order init)
  private lazy val labelErrorsOracle =
    s"""WITH $nbCtes,
       |ag AS (SELECT sc.doc_id, sc.lang, b.m,
       |  max(CASE WHEN sc.c = sc.lang THEN sc.score END) AS s_label
       |  FROM sc JOIN best b ON b.doc_id = sc.doc_id GROUP BY 1, 2, 3),
       |pred AS (SELECT sc.doc_id, min(sc.c) AS pred_lang
       |  FROM sc JOIN best b ON sc.doc_id = b.doc_id AND sc.score = b.m
       |  GROUP BY 1)
       |SELECT a.doc_id, a.lang, p.pred_lang,
       |  round(a.m - a.s_label, 6) AS margin
       |FROM ag a JOIN pred p ON p.doc_id = a.doc_id
       |WHERE p.pred_lang <> a.lang
       |  AND round(a.m - a.s_label, 6) >= $LabelErrMargin
       |ORDER BY a.doc_id""".stripMargin

  // Split conformal: the per-lang rank cut mirrors GroupQuantileCut's
  // exact convention (row_number by nc asc, id asc ≤ floor(frac·n)).
  private lazy val conformalCoverageOracle =
    s"""WITH $nbCtes,
       |ag AS (SELECT sc.doc_id, sc.lang, b.m,
       |  max(CASE WHEN sc.c = sc.lang THEN sc.score END) AS s_label
       |  FROM sc JOIN best b ON b.doc_id = sc.doc_id GROUP BY 1, 2, 3),
       |ncv AS (SELECT doc_id, lang, round(m - s_label, 6) AS nc FROM ag),
       |cal AS (SELECT * FROM ncv WHERE doc_id % 2 = 1),
       |tst AS (SELECT * FROM ncv WHERE doc_id % 2 = 0),
       |rk AS (SELECT lang, nc,
       |  row_number() OVER (PARTITION BY lang ORDER BY nc ASC, doc_id ASC)
       |    AS rn,
       |  count(*) OVER (PARTITION BY lang) AS n FROM cal),
       |thr AS (SELECT lang, max(nc) AS threshold,
       |  CAST(min(n) AS BIGINT) AS n_cal FROM rk
       |  WHERE rn <= CAST(floor($ConformalKeep * n) AS BIGINT) GROUP BY 1)
       |SELECT t.lang, thr.n_cal, round(thr.threshold, 6) AS threshold,
       |  CAST(count(*) AS BIGINT) AS n_test,
       |  CAST(sum(CASE WHEN t.nc <= thr.threshold THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_covered,
       |  round(CAST(sum(CASE WHEN t.nc <= thr.threshold THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS coverage
       |FROM tst t JOIN thr ON thr.lang = t.lang
       |GROUP BY 1, 2, 3 ORDER BY t.lang""".stripMargin

  // Reliability diagram / ECE: softmax via Σ exp(score − best), the
  // confidence 6-dp rounded BEFORE decile binning in both engines.
  private lazy val calibrationEceOracle =
    s"""WITH $nbCtes,
       |dl AS (SELECT DISTINCT doc_id, lang FROM sc),
       |pred AS (SELECT sc.doc_id, min(sc.c) AS pred
       |  FROM sc JOIN best b ON sc.doc_id = b.doc_id AND sc.score = b.m
       |  GROUP BY 1),
       |z AS (SELECT sc.doc_id, sum(exp(sc.score - b.m)) AS z
       |  FROM sc JOIN best b ON b.doc_id = sc.doc_id GROUP BY 1),
       |conf AS (SELECT dl.lang, p.pred, round(1.0 / z.z, 6) AS p,
       |  least(CAST(floor(round(1.0 / z.z, 6) * $EceBins) AS BIGINT),
       |    ${EceBins - 1}) AS bin
       |  FROM z JOIN pred p ON p.doc_id = z.doc_id
       |  JOIN dl ON dl.doc_id = z.doc_id),
       |bins AS (SELECT bin, count(*) AS n, round(avg(p), 6) AS avg_conf,
       |  round(CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS accuracy FROM conf GROUP BY 1),
       |etot AS (SELECT count(*) AS nt FROM conf)
       |SELECT bin, CAST(n AS BIGINT) AS n, avg_conf, accuracy,
       |  round(abs(avg_conf - accuracy) * n / etot.nt, 6) AS ece_term
       |FROM bins, etot ORDER BY bin""".stripMargin

  // Fellegi-Sunter weights over the SAME candidate pairs + signature
  // estimate as the dedup-apply convention; add-one smoothing mirrored
  // term by term.
  private lazy val linkageWeightsOracle = {
    val matchSum = (0 until K)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$sigsCte,
       |$bandsCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |      AND a.doc_id < b.doc_id),
       |pv AS (SELECT p.doc_a, p.doc_b, ($matchSum) / $K.0 AS ej FROM pairs p
       |  JOIN sigs sa ON p.doc_a = sa.doc_id
       |  JOIN sigs sb ON p.doc_b = sb.doc_id),
       |cmp AS (SELECT pv.ej >= 0.5 AS mt,
       |  da.lang = db.lang AS f_lang, da.source = db.source AS f_source,
       |  abs(da.n_chars - db.n_chars) <= 10 AS f_len
       |  FROM pv JOIN documents da ON da.doc_id = pv.doc_a
       |  JOIN documents db ON db.doc_id = pv.doc_b),
       |u AS (SELECT 'f_lang' AS field, mt, f_lang AS agree FROM cmp
       |  UNION ALL SELECT 'f_len', mt, f_len FROM cmp
       |  UNION ALL SELECT 'f_source', mt, f_source FROM cmp),
       |g AS (SELECT field,
       |  sum(CASE WHEN mt AND agree THEN 1 ELSE 0 END) AS am,
       |  sum(CASE WHEN mt AND agree IS NOT NULL THEN 1 ELSE 0 END) AS nm,
       |  sum(CASE WHEN NOT mt AND agree THEN 1 ELSE 0 END) AS au,
       |  sum(CASE WHEN NOT mt AND agree IS NOT NULL THEN 1 ELSE 0 END)
       |    AS nu FROM u GROUP BY 1)
       |SELECT field, CAST(nm AS BIGINT) AS n_match,
       |  CAST(nu AS BIGINT) AS n_unmatch,
       |  round((am + 1.0) / (nm + 2), 6) AS m_prob,
       |  round((au + 1.0) / (nu + 2), 6) AS u_prob,
       |  round(ln(((am + 1.0) / (nm + 2)) / ((au + 1.0) / (nu + 2))), 6)
       |    AS w_agree,
       |  round(ln((1.0 - (am + 1.0) / (nm + 2))
       |    / (1.0 - (au + 1.0) / (nu + 2))), 6) AS w_disagree
       |FROM g ORDER BY field""".stripMargin
  }

  // Calibration: the candidate pairs with their signature estimates,
  // joined against TRUE Jaccard from the per-doc-distinct shingle table
  // (uncapped — calibration grades the estimator against ground truth,
  // not against the df-capped operational path). A candidate pair can
  // share zero shingles (band collision): LEFT join, intersection 0.
  private val minhashCalibrationOracle = {
    val matchSum = (0 until K)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$sigsCte,
       |$bandsCte,
       |$hshCtes,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |est AS (SELECT p.doc_a, p.doc_b, round(($matchSum) / $K.0, 6) AS ej
       |  FROM pairs p
       |  JOIN sigs sa ON p.doc_a = sa.doc_id
       |  JOIN sigs sb ON p.doc_b = sb.doc_id),
       |cnts AS (SELECT doc_id, count(*) AS n FROM hsh GROUP BY doc_id),
       |inter AS (SELECT e.doc_a, e.doc_b, count(*) AS n_inter
       |  FROM est e
       |  JOIN hsh a ON a.doc_id = e.doc_a
       |  JOIN hsh b ON b.doc_id = e.doc_b AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |tr AS (SELECT e.ej,
       |    CAST(coalesce(i.n_inter, 0) AS DOUBLE)
       |      / (na.n + nb.n - coalesce(i.n_inter, 0)) AS tj
       |  FROM est e
       |  LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
       |  JOIN cnts na ON na.doc_id = e.doc_a
       |  JOIN cnts nb ON nb.doc_id = e.doc_b)
       |SELECT ej AS est_jaccard, CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(avg(tj), 6) AS mean_true,
       |  round(avg(abs(ej - tj)), 6) AS mean_abs_err
       |FROM tr GROUP BY ej ORDER BY est_jaccard""".stripMargin
  }

  private val simhashVotes = (0 until SimBits).map { j =>
    s"sum(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j"
  }.mkString(",\n  ")

  private val simhashBitsExpr = (0 until SimBits)
    .map(j => s"(CASE WHEN v$j >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  // unicode token grain (round-13 default flip; see toksCte's mirror note)
  private val simhashFpCtes =
    s"""tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS tok FROM documents),
       |h AS (SELECT doc_id, ${hexHashSql("tok")} AS th FROM tok),
       |v AS (SELECT doc_id,
       |  $simhashVotes
       |FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $simhashBitsExpr AS simhash FROM v)""".stripMargin

  private val simhashOracle =
    s"""WITH $simhashFpCtes
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin

  private val simhashPairsOracle = {
    val hamming = (1 to SimBits)
      .map(j => s"(CASE WHEN substring(a.simhash, $j, 1) <> substring(b.simhash, $j, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $simhashFpCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST($hamming AS BIGINT) AS hamming
       |FROM fp a JOIN fp b
       |  ON substring(a.simhash, 1, $simPrefixSql) = substring(b.simhash, 1, $simPrefixSql)
       | AND a.doc_id < b.doc_id
       |WHERE $hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Count-min heavy hitters: the sketch's summed counter cells rebuilt
    * relationally — per row i, a token's cell sum is the total count of
    * every token sharing `(b1 + i·b2) mod width`; the estimate is the min
    * across rows. Generated from the same (depth, width) constants as the
    * engine sketch. */
  private val heavyHittersOracle = {
    val cellCtes = (0 until CmsDepth).map { i =>
      s"""cell$i AS (SELECT (b1 + $i * b2) % $CmsWidth AS cell, sum(c) AS s
         |  FROM hs GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val cellJoins = (0 until CmsDepth).map { i =>
      s"JOIN cell$i c$i ON (h.b1 + $i * h.b2) % $CmsWidth = c$i.cell"
    }.mkString("\n  ")
    val minExpr = s"least(${(0 until CmsDepth).map(i => s"c$i.s").mkString(", ")})"
    s"""WITH tok AS (SELECT unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS token FROM documents),
       |tf AS (SELECT token, count(*) AS c FROM tok WHERE token <> '' GROUP BY token),
       |hs AS (SELECT token, c,
       |  ${hexHashSql("token")} AS b1,
       |  ('0x' || substring(md5(token), 15, 14))::BIGINT AS b2 FROM tf),
       |$cellCtes,
       |est AS (SELECT h.token, $minExpr AS est_count FROM hs h
       |  $cellJoins),
       |r AS (SELECT token, CAST(est_count AS BIGINT) AS est_count,
       |  CAST(row_number() OVER (ORDER BY est_count DESC, token ASC) AS BIGINT) AS rank
       |  FROM est)
       |SELECT token, est_count, rank FROM r WHERE rank <= $CmsTopK
       |ORDER BY rank""".stripMargin
  }

  private val simhashMultitableOracle = {
    val hamming = (1 to SimBits)
      .map(j => s"(CASE WHEN substring(a.simhash, $j, 1) <> substring(b.simhash, $j, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val tables = (0 until SimTables).map { i =>
      val r = i * SimBits / SimTables
      val rotated =
        if (r == 0) "simhash"
        else s"substring(simhash, ${r + 1}, ${SimBits - r}) || substring(simhash, 1, $r)"
      s"SELECT doc_id, simhash, $i AS tbl, substring($rotated, 1, $simPrefixSql) AS bucket FROM fp"
    }.mkString("\n  UNION ALL ")
    s"""WITH $simhashFpCtes,
       |bkt AS (
       |  $tables)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST($hamming AS BIGINT) AS hamming
       |FROM bkt a JOIN bkt b
       |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |WHERE $hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val editVerifyOracle = {
    val hamming = (1 to SimBits)
      .map(j => s"(CASE WHEN substring(a.simhash, $j, 1) <> substring(b.simhash, $j, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $simhashFpCtes,
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST($hamming AS BIGINT) AS hamming
       |  FROM fp a JOIN fp b
       |    ON substring(a.simhash, 1, $simPrefixSql) = substring(b.simhash, 1, $simPrefixSql)
       |   AND a.doc_id < b.doc_id
       |  WHERE $hamming <= 3),
       |dp AS (SELECT doc_id, substr(trim(text), 1, $EditPrefix) AS pfx FROM documents),
       |ev AS (SELECT doc_a, doc_b, hamming,
       |       CAST(levenshtein(pa.pfx, pb.pfx) AS BIGINT) AS edit_dist,
       |       1.0 - levenshtein(pa.pfx, pb.pfx)
       |         / greatest(len(pa.pfx), len(pb.pfx)) AS sim
       |  FROM pr JOIN dp pa ON pa.doc_id = pr.doc_a
       |          JOIN dp pb ON pb.doc_id = pr.doc_b)
       |SELECT doc_a, doc_b, hamming, edit_dist,
       |       round(sim, 6) AS edit_sim, sim >= $EditSimMin AS verified
       |FROM ev ORDER BY doc_a, doc_b""".stripMargin
  }

  private val idfCosineOracle =
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$hshCtes,
       |dfok AS (SELECT sh, count(*) AS df FROM hsh GROUP BY sh
       |  HAVING count(*) <= $JaccardMaxDf),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |wt AS (SELECT doc_id, h.sh,
       |    pow(ln(CAST(n_docs AS DOUBLE) / df), 2) AS w2
       |  FROM hsh h JOIN dfok USING (sh) CROSS JOIN nd),
       |nrm AS (SELECT doc_id, sum(w2) AS n2 FROM wt GROUP BY doc_id),
       |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w2) AS dot
       |  FROM wt a JOIN wt b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(dot / sqrt(na.n2 * nb.n2), 6) AS idf_cosine
       |FROM dots
       |JOIN nrm na ON na.doc_id = doc_a
       |JOIN nrm nb ON nb.doc_id = doc_b
       |WHERE dot / sqrt(na.n2 * nb.n2) >= $IdfCosMin
       |ORDER BY doc_a, doc_b""".stripMargin

  private val jaroVerifyOracle = {
    val hamming = (1 to SimBits)
      .map(j => s"(CASE WHEN substring(a.simhash, $j, 1) <> substring(b.simhash, $j, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $simhashFpCtes,
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST($hamming AS BIGINT) AS hamming
       |  FROM fp a JOIN fp b
       |    ON substring(a.simhash, 1, $simPrefixSql) = substring(b.simhash, 1, $simPrefixSql)
       |   AND a.doc_id < b.doc_id
       |  WHERE $hamming <= 3),
       |dp AS (SELECT doc_id, substr(trim(text), 1, $EditPrefix) AS pfx FROM documents),
       |jv AS (SELECT doc_a, doc_b, hamming,
       |       jaro_winkler_similarity(pa.pfx, pb.pfx) AS jw
       |  FROM pr JOIN dp pa ON pa.doc_id = pr.doc_a
       |          JOIN dp pb ON pb.doc_id = pr.doc_b)
       |SELECT doc_a, doc_b, hamming,
       |       round(jw, 6) AS jw_sim, jw >= $JaroMin AS verified
       |FROM jv ORDER BY doc_a, doc_b""".stripMargin
  }

  private val dupExplainOracle = {
    val hamming = (1 to SimBits)
      .map(j => s"(CASE WHEN substring(a.simhash, $j, 1) <> substring(b.simhash, $j, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    // first position where the char streams differ, else the shorter
    // length (DuckDB's list_position returns 0, not NULL, on no-match —
    // hence the nullif)
    def cpl(x: String, y: String) =
      s"""coalesce(nullif(list_position(list_transform(
         |    range(1, least(len($x), len($y)) + 1),
         |    i -> substr($x, i, 1) = substr($y, i, 1)), false), 0) - 1,
         |  least(len($x), len($y)))""".stripMargin
    s"""WITH $simhashFpCtes,
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fp a JOIN fp b
       |    ON substring(a.simhash, 1, $simPrefixSql) = substring(b.simhash, 1, $simPrefixSql)
       |   AND a.doc_id < b.doc_id
       |  WHERE $hamming <= 3),
       |dp AS (SELECT doc_id, substr(trim(text), 1, $EditPrefix) AS pfx FROM documents),
       |vp AS (SELECT doc_a, doc_b, pa.pfx AS pa, pb.pfx AS pb
       |  FROM pr JOIN dp pa ON pa.doc_id = pr.doc_a
       |          JOIN dp pb ON pb.doc_id = pr.doc_b),
       |ex AS (SELECT doc_a, doc_b,
       |  1.0 - levenshtein(pa, pb) / greatest(len(pa), len(pb)) >= $EditSimMin
       |    AS verified,
       |  CAST(${cpl("pa", "pb")} AS BIGINT) AS p,
       |  CAST(${cpl("reverse(pa)", "reverse(pb)")} AS BIGINT) AS sr,
       |  CAST(least(len(pa), len(pb)) AS BIGINT) AS ml,
       |  CAST(len(pa) AS BIGINT) AS la, CAST(len(pb) AS BIGINT) AS lb
       |  FROM vp)
       |SELECT doc_a, doc_b, verified, p AS prefix_len,
       |  least(sr, ml - p) AS suffix_len,
       |  la - p - least(sr, ml - p) AS mid_a,
       |  lb - p - least(sr, ml - p) AS mid_b
       |FROM ex ORDER BY doc_a, doc_b""".stripMargin
  }

  private val verifySweepOracle = {
    val hamming = (1 to SimBits)
      .map(j => s"(CASE WHEN substring(a.simhash, $j, 1) <> substring(b.simhash, $j, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $simhashFpCtes,
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST($hamming AS BIGINT) AS hamming
       |  FROM fp a JOIN fp b
       |    ON substring(a.simhash, 1, $simPrefixSql) = substring(b.simhash, 1, $simPrefixSql)
       |   AND a.doc_id < b.doc_id
       |  WHERE $hamming <= 3),
       |dp AS (SELECT doc_id, substr(trim(text), 1, $EditPrefix) AS pfx FROM documents),
       |pv AS (SELECT hamming,
       |       1.0 - levenshtein(pa.pfx, pb.pfx)
       |         / greatest(len(pa.pfx), len(pb.pfx)) AS es,
       |       jaro_winkler_similarity(pa.pfx, pb.pfx) AS jw
       |  FROM pr JOIN dp pa ON pa.doc_id = pr.doc_a
       |          JOIN dp pb ON pb.doc_id = pr.doc_b),
       |mv AS (SELECT hamming,
       |       CAST(round(es * 1000000.0, 0) AS BIGINT) AS sim_micro,
       |       CASE WHEN es >= $EditSimMin THEN 1 ELSE 0 END AS ev,
       |       CASE WHEN jw >= $JaroMin THEN 1 ELSE 0 END AS jv
       |  FROM pv)
       |SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(sum(sim_micro) / (count(*) * 1000000.0), 6) AS mean_edit_sim,
       |  round(CAST(sum(ev) AS DOUBLE) / count(*), 6) AS edit_verify_rate,
       |  round(CAST(sum(jv) AS DOUBLE) / count(*), 6) AS jw_verify_rate
       |FROM mv GROUP BY hamming ORDER BY hamming""".stripMargin
  }

  private val sortedNeighborhoodOracle =
    s"""WITH b AS (SELECT doc_id, substr(trim(text), 1, $SnPrefix) AS pfx,
       |  substr(trim(text), 1, $SnBlockChars) AS block FROM documents),
       |w AS (SELECT block, doc_id, pfx,
       |  lag(doc_id) OVER (PARTITION BY block ORDER BY pfx, doc_id) AS prev_id,
       |  lag(pfx) OVER (PARTITION BY block ORDER BY pfx, doc_id) AS prev_pfx
       |  FROM b)
       |SELECT least(prev_id, doc_id) AS doc_a,
       |       greatest(prev_id, doc_id) AS doc_b, block,
       |       CAST(levenshtein(pfx, prev_pfx) AS BIGINT) AS edit_dist
       |FROM w
       |WHERE prev_id IS NOT NULL AND levenshtein(pfx, prev_pfx) <= $SnMaxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  private val phraseSearchOracle =
    s"""WITH $toksCte,
       |psh AS (SELECT doc_id, unnest(range(1, greatest(len(t) - ${W - 1}, 1) + 1)) AS i, t
       |  FROM toks),
       |p2 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |  array_to_string(t[i:i+${W - 1}], ' ') AS ph FROM psh),
       |top AS (SELECT ph, CAST(count(*) AS BIGINT) AS n_total FROM p2
       |  GROUP BY ph ORDER BY n_total DESC, ph ASC LIMIT 1)
       |SELECT t.ph AS phrase, t.n_total, doc_id,
       |       CAST(count(*) AS BIGINT) AS n_hits,
       |       CAST(min(pos) AS BIGINT) AS first_pos
       |FROM p2 JOIN top t USING (ph)
       |GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin

  private val sourceJaccardOracle =
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$hshCtes,
       |ssh AS (SELECT DISTINCT d.source, h.sh FROM hsh h
       |  JOIN documents d USING (doc_id)),
       |cnts AS (SELECT source, count(*) AS n FROM ssh GROUP BY source),
       |inter AS (SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_inter
       |  FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_inter,
       |  round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN cnts na ON na.source = source_a
       |JOIN cnts nb ON nb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** e_phash_neardup rebuilt relationally from the same constants: the dHash
    * bit string from md5-over-slices gray values, the rotated prefix
    * buckets, per-bit Hamming on the banded self-join, then the per-image
    * partner stats. Mirrors [[graft.multimodal.Multimodal.perceptualHash]]
    * exactly (the stub decode of the synthesized media content IS the
    * document text). */
  /** Shared perceptual-hash CTE chain (`… → fp(media_id, phash),
    * prs(ma, mb, hamming)`): the near-dup stats oracle aggregates partner
    * stats from it, the clusters oracle closes it transitively. */
  private val phashPairCtes = {
    val nCells = PhBits + 1
    def cellSql(i: Int) =
      s"('0x' || substring(md5(substring(text, ($i-1)*w+1, w)), 1, 2))::INT"
    val bitsConcat = (1 to PhBits).map(i =>
      s"(CASE WHEN ${cellSql(i)} < ${cellSql(i + 1)} THEN '1' ELSE '0' END)")
      .mkString(" || ")
    val hamming = (1 to PhBits).map(j =>
      s"(CASE WHEN substring(a.phash, $j, 1) <> substring(b.phash, $j, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val tables = (0 until PhTables).map { i =>
      val r = i * PhBits / PhTables
      val rotated =
        if (r == 0) "phash"
        else s"substring(phash, ${r + 1}, ${PhBits - r}) || substring(phash, 1, $r)"
      s"SELECT media_id, phash, $i AS tbl, substring($rotated, 1, $PhPrefix) AS bucket FROM fp"
    }.mkString("\n  UNION ALL ")
    s"""img AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0),
       |cw AS (SELECT media_id, text,
       |  greatest(CAST(ceil(len(text) / ${nCells}.0) AS INT), 1) AS w FROM img),
       |fp AS (SELECT media_id, $bitsConcat AS phash FROM cw),
       |bkt AS (
       |  $tables),
       |prs AS (SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
       |    CAST($hamming AS BIGINT) AS hamming
       |  FROM bkt a JOIN bkt b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.media_id < b.media_id
       |  WHERE $hamming <= $PhMaxHamming)""".stripMargin
  }

  private val phashNeardupOracle =
    s"""WITH $phashPairCtes,
       |pt AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_neardup,
       |    CAST(min(hamming) AS BIGINT) AS min_hamming
       |  FROM (SELECT ma AS media_id, hamming FROM prs
       |        UNION ALL SELECT mb AS media_id, hamming FROM prs)
       |  GROUP BY media_id)
       |SELECT fp.media_id, fp.phash,
       |  CAST(coalesce(pt.n_neardup, 0) AS BIGINT) AS n_neardup,
       |  CAST(coalesce(pt.min_hamming, -1) AS BIGINT) AS min_hamming
       |FROM fp LEFT JOIN pt ON fp.media_id = pt.media_id
       |ORDER BY fp.media_id""".stripMargin

  /** e_audio_neardup / e_video_neardup rebuilt relationally: the modality
    * slice splits into fixed windows (audio: every contiguous 128-byte
    * segment; video: every `stride`-th 256-byte frame), each window gets
    * the same md5-over-slices difference hash as the pHash oracle,
    * rotated-prefix buckets band WINDOW pairs, and per-media stats
    * aggregate the cross-media matches. */
  private def segmentNeardupOracleSql(sliceMod: Int, segBytes: Int,
                                      stride: Int, minLen: Int): String = {
    val nCells = PhBits + 1
    def cellSql(i: Int) =
      s"('0x' || substring(md5(substring(seg, ($i-1)*w+1, w)), 1, 2))::INT"
    val bitsConcat = (1 to PhBits).map(i =>
      s"(CASE WHEN ${cellSql(i)} < ${cellSql(i + 1)} THEN '1' ELSE '0' END)")
      .mkString(" || ")
    val hamming = (1 to PhBits).map(j =>
      s"(CASE WHEN substring(a.phash, $j, 1) <> substring(b.phash, $j, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val tables = (0 until PhTables).map { i =>
      val r = i * PhBits / PhTables
      val rotated =
        if (r == 0) "phash"
        else s"substring(phash, ${r + 1}, ${PhBits - r}) || substring(phash, 1, $r)"
      s"SELECT media_id, seg_idx, phash, $i AS tbl, substring($rotated, 1, $PhPrefix) AS bucket FROM fp"
    }.mkString("\n  UNION ALL ")
    s"""WITH aud AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = $sliceMod),
       |sg0 AS (SELECT media_id,
       |  unnest(range(0, greatest(CAST(ceil(len(text) / ${segBytes}.0) AS BIGINT), 1))) AS seg_idx,
       |  text FROM aud),
       |sg AS (SELECT media_id, seg_idx,
       |    substring(text, CAST(seg_idx * $segBytes + 1 AS INT), $segBytes) AS seg
       |  FROM sg0 WHERE seg_idx % $stride = 0),
       |segf AS (SELECT * FROM sg WHERE len(seg) >= $minLen OR seg_idx = 0),
       |cw AS (SELECT media_id, seg_idx, seg,
       |  greatest(CAST(ceil(len(seg) / ${nCells}.0) AS INT), 1) AS w FROM segf),
       |fp AS (SELECT media_id, seg_idx, $bitsConcat AS phash FROM cw),
       |bkt AS (
       |  $tables),
       |prs AS (SELECT DISTINCT a.media_id AS ma, a.seg_idx AS sa,
       |    b.media_id AS mb, b.seg_idx AS sb, CAST($hamming AS BIGINT) AS hamming
       |  FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |    AND a.media_id * $AudioKeyMod + a.seg_idx < b.media_id * $AudioKeyMod + b.seg_idx
       |  WHERE $hamming <= $AudioMaxHamming),
       |dir AS (SELECT ma AS media_id, mb AS partner, hamming FROM prs
       |        UNION ALL SELECT mb AS media_id, ma AS partner, hamming FROM prs),
       |st AS (SELECT media_id, CAST(count(DISTINCT partner) AS BIGINT) AS n_partners,
       |    CAST(count(*) AS BIGINT) AS n_seg_matches,
       |    CAST(min(hamming) AS BIGINT) AS min_hamming
       |  FROM dir WHERE media_id <> partner GROUP BY media_id),
       |sc AS (SELECT fp.media_id, CAST(count(*) AS BIGINT) AS n_segments,
       |    min(CASE WHEN seg_idx = 0 THEN phash END) AS head_phash
       |  FROM fp GROUP BY fp.media_id)
       |SELECT sc.media_id, sc.head_phash, sc.n_segments,
       |  CAST(coalesce(st.n_partners, 0) AS BIGINT) AS n_partners,
       |  CAST(coalesce(st.n_seg_matches, 0) AS BIGINT) AS n_seg_matches,
       |  CAST(coalesce(st.min_hamming, -1) AS BIGINT) AS min_hamming
       |FROM sc LEFT JOIN st ON sc.media_id = st.media_id
       |ORDER BY sc.media_id""".stripMargin
  }

  private val phashClustersOracle =
    s"""WITH RECURSIVE $phashPairCtes,
       |edges AS (SELECT ma AS src, mb AS dst FROM prs
       |          UNION SELECT mb, ma FROM prs),
       |cc(media_id, lbl) AS (
       |  SELECT media_id, media_id FROM fp
       |  UNION
       |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON e.dst = cc.media_id)
       |SELECT media_id, min(lbl) AS cluster_id FROM cc
       |GROUP BY media_id ORDER BY media_id""".stripMargin

  /** e_bpe_merges unrolled relationally: word frequencies, the `(c)`-group
    * symbol encoding, then one (pair-count → argmax → literal replace) CTE
    * chain per merge round — the same greedy left-to-right merge semantics
    * the delimiter encoding guarantees (see [[graft.functions.BpeVocab]]). */
  /** The shared merge-training CTE chain (word freqs → `(c)` encoding →
    * one (pair-count → argmax → literal replace) round per merge): the
    * merges oracle reads the t$r argmax rows, the encode oracle reads the
    * fully-merged enc$BpeMerges vocabulary. */
  private val bpeTrainCtes = {
    val rounds = (1 to BpeMerges).map { r =>
      s"""p$r AS (SELECT pr, CAST(sum(wc) AS BIGINT) AS c FROM (
         |  SELECT wc, unnest(list_transform(range(1, len(l)), i -> l[i] || l[i+1])) AS pr
         |  FROM (SELECT wc, regexp_extract_all(enc, '\\([^()]*\\)') AS l FROM enc${r - 1})
         |) GROUP BY pr),
         |t$r AS (SELECT pr, replace(pr, ')(', '') AS menc,
         |    trim(replace(pr, ')(', ''), '()') AS merged, c FROM p$r
         |  ORDER BY c DESC, pr ASC LIMIT 1),
         |enc$r AS (SELECT word, wc, replace(enc, t$r.pr, t$r.menc) AS enc
         |  FROM enc${r - 1} CROSS JOIN t$r)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS word
       |  FROM documents),
       |wv AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM w GROUP BY word),
       |enc0 AS (SELECT word, wc, regexp_replace(word, '(.)', '(\\1)', 'g') AS enc FROM wv),
       |$rounds""".stripMargin
  }

  private val bpeMergesOracle = {
    val union = (1 to BpeMerges).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_idx, pr AS pair, merged, c AS pair_count FROM t$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainCtes
       |$union
       |ORDER BY merge_idx""".stripMargin
  }

  private val bpeEncodeOracle =
    s"""WITH $bpeTrainCtes,
       |vocabtok AS (SELECT word,
       |  CAST(len(regexp_extract_all(enc, '\\([^()]*\\)')) AS BIGINT) AS nt
       |  FROM enc$BpeMerges),
       |dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS word
       |  FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
       |FROM dw JOIN vocabtok USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val jaccardOracle =
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$hshCtes,
       |dfok AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM hsh GROUP BY sh)
       |  WHERE df <= $JaccardMaxDf),
       |kept AS (SELECT h.doc_id, h.sh FROM hsh h JOIN dfok USING (sh)),
       |cnts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard
       |FROM inter
       |JOIN cnts na ON na.doc_id = doc_a
       |JOIN cnts nb ON nb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= 0.1
       |ORDER BY doc_a, doc_b""".stripMargin

  private val containmentOracle =
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$hshCtes,
       |dfok AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM hsh GROUP BY sh)
       |  WHERE df <= $JaccardMaxDf),
       |kept AS (SELECT h.doc_id, h.sh FROM hsh h JOIN dfok USING (sh)),
       |cnts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(n_inter AS DOUBLE) / na.n, 6) AS cont_a,
       |  round(CAST(n_inter AS DOUBLE) / nb.n, 6) AS cont_b
       |FROM inter
       |JOIN cnts na ON na.doc_id = doc_a
       |JOIN cnts nb ON nb.doc_id = doc_b
       |WHERE greatest(CAST(n_inter AS DOUBLE) / na.n,
       |               CAST(n_inter AS DOUBLE) / nb.n) >= $ContainMin
       |ORDER BY doc_a, doc_b""".stripMargin

  // Winnowing oracles: POSITIONAL (non-distinct) shingle hashes, one
  // frame per position with the same floor-at-one-frame rule as the
  // expression, rightmost-min selection via ORDER BY h ASC, pos DESC —
  // exactly WinnowFingerprints' tie rule — then DISTINCT (pos, h) per doc
  // (adjacent frames reselect; positions are non-decreasing so DISTINCT
  // equals the expression's skip-if-same-as-last rule).
  private val winnowFpCtes =
    s"""$toksCte,
       |wsh AS (SELECT doc_id, unnest(range(1, greatest(len(t) - ${W - 1}, 1) + 1)) AS i, t
       |  FROM toks),
       |wh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |  ${hexHashSql(s"array_to_string(t[i:i+${W - 1}], ' ')")} AS h FROM wsh),
       |wcnt AS (SELECT doc_id, count(*) AS n FROM wh GROUP BY doc_id),
       |wins AS (SELECT doc_id, unnest(range(0, greatest(n - ${WinnowWindow - 1}, 1))) AS w
       |  FROM wcnt),
       |sel AS (SELECT doc_id, pos, h FROM (
       |  SELECT wins.doc_id, wins.w, wh.pos, wh.h,
       |    row_number() OVER (PARTITION BY wins.doc_id, wins.w
       |      ORDER BY wh.h ASC, wh.pos DESC) AS rn
       |  FROM wins JOIN wh ON wh.doc_id = wins.doc_id
       |    AND wh.pos >= wins.w AND wh.pos < wins.w + $WinnowWindow)
       |  WHERE rn = 1),
       |wfp AS (SELECT DISTINCT doc_id, pos, h FROM sel)""".stripMargin

  private val winnowFingerprintsOracle =
    s"""WITH $winnowFpCtes
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
       |  CAST(sum((pos + 1) * (h % $WinnowCkMod)) AS BIGINT) AS fp_checksum
       |FROM wfp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val winnowMatchesOracle =
    s"""WITH $winnowFpCtes,
       |whdis AS (SELECT DISTINCT doc_id, h FROM wfp),
       |wdfok AS (SELECT h FROM (SELECT h, count(*) AS df FROM whdis GROUP BY h)
       |  WHERE df <= $JaccardMaxDf),
       |wkept AS (SELECT doc_id, h FROM whdis JOIN wdfok USING (h))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM wkept a JOIN wkept b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  // DSIR: identical feature hashing (56-bit md5 % buckets), add-1
  // smoothing, and ln ratio as the Spark side; 1-token docs contribute no
  // bigram (mirrors the width-2 shingle guard).
  /** DSIR CTE chain up through the per-bucket log-ratio table —
    * shared by the weights and ESS oracles. */
  private val dsirChain =
    s"""tl AS (SELECT doc_id, lang = 'en' AS tgt,
       |  regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
       |uni AS (SELECT doc_id, tgt, unnest(t) AS f FROM tl),
       |big AS (SELECT doc_id, tgt,
       |  unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS f FROM tl WHERE len(t) >= 2),
       |feats AS (SELECT doc_id, tgt,
       |  ${hexHashSql("f", "dsir|")} % $DsirBuckets AS b
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
       |hist AS (SELECT b, count(*) AS n_all,
       |  sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_t FROM feats GROUP BY b),
       |tot AS (SELECT CAST(sum(n_all) AS DOUBLE) AS na,
       |  CAST(sum(n_t) AS DOUBLE) AS nt FROM hist),
       |lr AS (SELECT b,
       |  ln(((CAST(n_t AS DOUBLE) + 1.0) / (nt + $DsirBuckets))
       |    / ((CAST(n_all AS DOUBLE) + 1.0) / (na + $DsirBuckets))) AS lr
       |  FROM hist CROSS JOIN tot)""".stripMargin

  private val dsirOracle =
    s"""WITH $dsirChain
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
       |  round(sum(lr), 6) AS dsir_logratio
       |FROM feats JOIN lr USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ESS of the normalized DSIR weights — shift-by-max before exp (ESS is
  // scale-invariant), identical rounding grain as the weights oracle.
  private val dsirEssOracle =
    s"""WITH $dsirChain,
       |dw AS (SELECT doc_id, round(sum(lr), 6) AS lrr
       |  FROM feats JOIN lr USING (b) GROUP BY 1),
       |mx AS (SELECT max(lrr) AS mx FROM dw),
       |w AS (SELECT exp(lrr - mx.mx) AS w FROM dw, mx)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  round(sum(w) * sum(w) / sum(w * w), 6) AS ess,
       |  round(sum(w) * sum(w) / sum(w * w) / count(*), 6) AS ess_ratio,
       |  round(max(w) / sum(w), 6) AS top_weight_share
       |FROM w""".stripMargin

  // Naive Bayes: identical feature hashing (56-bit md5 % buckets) and
  // add-1 smoothing as the Spark side; the (class, bucket) grid is fully
  // materialized so zero-count cells carry ln(1/(n_c+B)) exactly like the
  // driver-built broadcast grid. Argmax by pure aggregation: max score
  // per doc, exact join-back, min-label tie-break — the same three steps
  // the Spark plan runs.
  private val nbCtes =
    s"""tl AS (SELECT doc_id, lang, doc_id % 3 = 0 AS ev,
       |  regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
       |uni AS (SELECT doc_id, lang, ev, unnest(t) AS f FROM tl),
       |big AS (SELECT doc_id, lang, ev,
       |  unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS f FROM tl WHERE len(t) >= 2),
       |feats AS (SELECT doc_id, lang, ev,
       |  ${hexHashSql("f", "nb|")} % $NbBuckets AS b
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
       |cls AS (SELECT lang AS c, CAST(count(*) AS DOUBLE) AS nd
       |  FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1),
       |tot AS (SELECT sum(nd) AS n FROM cls),
       |cb AS (SELECT lang AS c, b, count(*) AS cnt FROM feats
       |  WHERE NOT ev GROUP BY 1, 2),
       |ctot AS (SELECT c, CAST(sum(cnt) AS DOUBLE) AS nc FROM cb GROUP BY 1),
       |grid AS (SELECT cls.c, r.range AS b, coalesce(cb.cnt, 0) AS cnt
       |  FROM cls CROSS JOIN range($NbBuckets) r
       |  LEFT JOIN cb ON cb.c = cls.c AND cb.b = r.range),
       |lp AS (SELECT g.c, g.b,
       |  ln((CAST(g.cnt AS DOUBLE) + 1.0) / (ctot.nc + $NbBuckets)) AS lp
       |  FROM grid g JOIN ctot ON ctot.c = g.c),
       |pri AS (SELECT c, ln(nd / n) AS pr FROM cls CROSS JOIN tot),
       |sc AS (SELECT f.doc_id, f.lang, lp.c,
       |  round(pri.pr + sum(lp.lp), 6) AS score
       |  FROM feats f JOIN lp ON lp.b = f.b JOIN pri ON pri.c = lp.c
       |  WHERE f.ev GROUP BY 1, 2, 3, pri.pr),
       |best AS (SELECT doc_id, max(score) AS m FROM sc GROUP BY 1)""".stripMargin

  private val nbClassifyOracle =
    s"""WITH $nbCtes
       |SELECT b.doc_id, min(sc.c) AS pred_lang, b.m AS nb_score
       |FROM sc JOIN best b ON sc.doc_id = b.doc_id AND sc.score = b.m
       |GROUP BY b.doc_id, b.m ORDER BY b.doc_id""".stripMargin

  private val nbConfusionOracle =
    s"""WITH $nbCtes,
       |pred AS (SELECT sc.doc_id, sc.lang, min(sc.c) AS pred_lang
       |  FROM sc JOIN best b ON sc.doc_id = b.doc_id AND sc.score = b.m
       |  GROUP BY 1, 2)
       |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // One-vs-rest margin swept over the fixed threshold grid; F1 from raw
  // counts (2·tp/(pp+pos)) exactly as the Spark side computes it.
  private val nbPrCurveOracle = {
    val grid = PrThresholds.mkString(", ")
    s"""WITH $nbCtes,
       |mg AS (SELECT s.doc_id, CAST(s.lang = 'en' AS BIGINT) AS is_en,
       |  round(max(CASE WHEN s.c = 'en' THEN s.score END)
       |      - max(CASE WHEN s.c <> 'en' THEN s.score END), 6) AS margin
       |  FROM sc s GROUP BY 1, 2),
       |th AS (SELECT unnest([$grid]) AS threshold),
       |agg AS (SELECT th.threshold,
       |    sum(CASE WHEN mg.margin >= th.threshold THEN 1 ELSE 0 END) AS pp,
       |    sum(CASE WHEN mg.margin >= th.threshold THEN mg.is_en
       |      ELSE 0 END) AS tp,
       |    sum(mg.is_en) AS npos
       |  FROM mg CROSS JOIN th GROUP BY 1)
       |SELECT threshold, CAST(pp AS BIGINT) AS n_pred_pos,
       |  CAST(tp AS BIGINT) AS n_true_pos,
       |  CASE WHEN pp = 0 THEN 0.0
       |    ELSE round(CAST(tp AS DOUBLE) / pp, 6) END AS prec,
       |  round(CAST(tp AS DOUBLE) / npos, 6) AS rec,
       |  CASE WHEN pp + npos = 0 THEN 0.0
       |    ELSE round(2.0 * tp / (pp + npos), 6) END AS f1
       |FROM agg ORDER BY threshold""".stripMargin
  }

  // Chance-corrected agreement between the trained router and the
  // stopword heuristic: po/pe/kappa from exact integer ratios.
  private val classifierKappaOracle = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scoreCols = langs.map { l =>
      val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(ht, x -> x IN ($words))) AS s_$l"
    }.mkString(",\n  ")
    val mExpr = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val caseArms =
      langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    s"""WITH $nbCtes,
       |p1 AS (SELECT sc.doc_id, min(sc.c) AS nb_pred
       |  FROM sc JOIN best b ON sc.doc_id = b.doc_id AND sc.score = b.m
       |  GROUP BY 1),
       |hsc AS (SELECT doc_id, $scoreCols FROM
       |  (SELECT doc_id, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS ht FROM documents
       |   WHERE doc_id % 3 = 0)),
       |hp AS (SELECT doc_id, CASE $caseArms ELSE 'und' END AS h_pred
       |  FROM (SELECT *, $mExpr AS m FROM hsc)),
       |pr AS (SELECT p1.doc_id, p1.nb_pred, hp.h_pred
       |  FROM p1 JOIN hp ON hp.doc_id = p1.doc_id),
       |mm AS (SELECT (SELECT count(*) FROM pr) AS n,
       |  (SELECT count(*) FROM pr WHERE nb_pred = h_pred) AS agree,
       |  (SELECT coalesce(sum(a.n1 * b.n2), 0) FROM
       |     (SELECT nb_pred AS c, count(*) AS n1 FROM pr GROUP BY 1) a
       |     JOIN (SELECT h_pred AS c, count(*) AS n2 FROM pr GROUP BY 1) b
       |     USING (c)) AS cross_mass)
       |SELECT CAST(n AS BIGINT) AS n_docs,
       |  round(CAST(agree AS DOUBLE) / n, 6) AS po,
       |  round(CAST(cross_mass AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS pe,
       |  round((CAST(agree AS DOUBLE) / n
       |      - CAST(cross_mass AS DOUBLE) / (CAST(n AS DOUBLE) * n))
       |    / (1.0 - CAST(cross_mass AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 6)
       |    AS kappa
       |FROM mm""".stripMargin
  }

  // mixture temperature: token shares and renormalized p^α weights —
  // every division and pow written in the same shape the Spark columns
  // compute, α rendered from the Scala double
  private val mixtureTemperatureOracle =
    s"""WITH per AS (SELECT source,
       |  CAST(sum(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM per),
       |wp AS (SELECT source, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / tot AS p FROM per CROSS JOIN tot),
       |z AS (SELECT sum(pow(p, $MixAlpha)) AS z FROM wp)
       |SELECT source, n_tokens, round(p, 6) AS p,
       |  round(pow(p, $MixAlpha) / z, 6) AS w,
       |  round((pow(p, $MixAlpha) / z) / p, 6) AS boost
       |FROM wp CROSS JOIN z ORDER BY source""".stripMargin

  // Content-defined chunking: identical rolling boundary rule (56-bit
  // md5 of the window ending at i, % divisor == 0, i ∈ [window, n-1]) and
  // chunk hashing; per-doc segmentation via an ordered boundary window —
  // the oracle-side mirror of the in-row bounds array.
  private val cdcCtes =
    s"""toks AS (SELECT doc_id, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
       |pos AS (SELECT doc_id, t, unnest(range($CdcWindow, len(t))) AS i
       |  FROM toks WHERE len(t) > $CdcWindow),
       |bnd AS (SELECT doc_id, CAST(i AS BIGINT) AS i FROM pos
       |  WHERE ${hexHashSql(s"array_to_string(t[i - ${CdcWindow - 1}:i], ' ')", "cdc|")}
       |    % $CdcDivisor = 0),
       |allb0 AS (SELECT doc_id, i FROM bnd
       |  UNION ALL SELECT doc_id, CAST(len(t) AS BIGINT) AS i FROM toks),
       |gaps AS (SELECT doc_id, i,
       |  lag(i, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM allb0),
       |forced AS (SELECT doc_id, CAST(unnest(range(prev + $CdcMaxLen, i, $CdcMaxLen)) AS BIGINT) AS i
       |  FROM gaps WHERE i - prev > $CdcMaxLen),
       |allb AS (SELECT doc_id, i FROM allb0 UNION ALL SELECT doc_id, i FROM forced),
       |ch AS (SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS chunk_idx,
       |  CAST(lag(i, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) + 1 AS BIGINT) AS start_tok,
       |  CAST(i - lag(i, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS n_tok,
       |  i AS e FROM allb),
       |chunks AS (SELECT c.doc_id, chunk_idx, start_tok, n_tok,
       |  ${hexHashSql("array_to_string(t[CAST(start_tok AS INT):CAST(e AS INT)], ' ')", "cdc|")} AS chunk_hash
       |  FROM ch c JOIN toks USING (doc_id))""".stripMargin

  private val cdcChunksOracle =
    s"""WITH $cdcCtes
       |SELECT doc_id, chunk_idx, start_tok, n_tok, chunk_hash
       |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin

  private val cdcDedupOracle =
    s"""WITH $cdcCtes
       |SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  min(doc_id) AS first_doc
       |FROM chunks GROUP BY 1 HAVING count(*) > 1
       |ORDER BY n_copies DESC, chunk_hash""".stripMargin

  // Suffix-array oracles: DuckDB sorts the word-sequence suffixes
  // DIRECTLY (lists compare lexicographically, element-wise, prefix
  // first — exactly the doc-bounded suffix order prefix doubling
  // converges to); rank()/row_number() give srank/spos verbatim.
  private val suffixCtes =
    s"""$toksCte,
       |p AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS widx, t FROM toks),
       |sfx AS (SELECT doc_id, CAST(widx AS BIGINT) AS widx, t[widx:] AS s FROM p)""".stripMargin

  private val suffixRanksOracle =
    s"""WITH $suffixCtes
       |SELECT doc_id, widx,
       |  CAST(rank() OVER (ORDER BY s) AS BIGINT) AS srank,
       |  CAST(row_number() OVER (ORDER BY s, doc_id, widx) AS BIGINT) AS spos
       |FROM sfx ORDER BY doc_id, widx""".stripMargin

  private val lcpRepeatsOracle =
    s"""WITH $suffixCtes,
       |rn AS (SELECT doc_id, widx, s,
       |  row_number() OVER (ORDER BY s, doc_id, widx) AS rn FROM sfx),
       |adj AS (SELECT a.doc_id AS doc_a, a.widx AS pos_a,
       |  b.doc_id AS doc_b, b.widx AS pos_b,
       |  array_to_string(a.s[1:$SaWindow], ' ') AS sa,
       |  array_to_string(b.s[1:$SaWindow], ' ') AS sb
       |  FROM rn a JOIN rn b ON b.rn = a.rn + 1),
       |l AS (SELECT doc_a, pos_a, doc_b, pos_b,
       |  CAST(len(list_filter(range(1, least(length(sa), length(sb)) + 1),
       |    i -> sa[1:i] = sb[1:i])) AS BIGINT) AS lcp, sa
       |  FROM adj)
       |SELECT doc_a, pos_a, doc_b, pos_b, lcp,
       |  substr(sa, 1, CAST(lcp AS INT)) AS prefix
       |FROM l ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
       |LIMIT $SaTopK""".stripMargin

  // identical chain, pairs restricted to those crossing the held-out
  // boundary (doc_id % 97 = 0, the e_decontam convention)
  private val exactContaminationOracle =
    s"""WITH $suffixCtes,
       |rn AS (SELECT doc_id, widx, s,
       |  row_number() OVER (ORDER BY s, doc_id, widx) AS rn FROM sfx),
       |adj AS (SELECT a.doc_id AS doc_a, a.widx AS pos_a,
       |  b.doc_id AS doc_b, b.widx AS pos_b,
       |  array_to_string(a.s[1:$SaWindow], ' ') AS sa,
       |  array_to_string(b.s[1:$SaWindow], ' ') AS sb
       |  FROM rn a JOIN rn b ON b.rn = a.rn + 1
       |  WHERE (a.doc_id % 97 = 0) <> (b.doc_id % 97 = 0)),
       |l AS (SELECT doc_a, pos_a, doc_b, pos_b,
       |  CAST(len(list_filter(range(1, least(length(sa), length(sb)) + 1),
       |    i -> sa[1:i] = sb[1:i])) AS BIGINT) AS lcp, sa
       |  FROM adj)
       |SELECT doc_a, pos_a, doc_b, pos_b, lcp,
       |  substr(sa, 1, CAST(lcp AS INT)) AS prefix
       |FROM l ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b
       |LIMIT $SaTopK""".stripMargin

  /** element/norm CTEs shared by the cosine oracles. */
  private val embCtes =
    """e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |       CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id)""".stripMargin

  private def cosineTopkOracle(k: Int, bucketJoin: Boolean,
                               sampled: Boolean = false): String = {
    val bucketExpr = AnnDims
      .map(i => s"(CASE WHEN embedding[${i + 1}] >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    val bucketCtes =
      if (!bucketJoin) ""
      else s""",
        |buckets AS (SELECT vec_id, $bucketExpr AS bucket FROM embeddings)""".stripMargin
    val bucketCond =
      if (!bucketJoin) ""
      else " AND bq.bucket = bc.bucket"
    val bucketJoins =
      if (!bucketJoin) ""
      else
        """
          |  JOIN buckets bq ON bq.vec_id = q.vec_id
          |  JOIN buckets bc ON bc.vec_id = e.vec_id""".stripMargin
    val qPred =
      if (sampled) s"vec_id % 50 = 0 AND vec_id < $EvalQueryCut"
      else "vec_id % 50 = 0"
    s"""WITH $embCtes$bucketCtes,
       |q AS (SELECT * FROM e WHERE $qPred),
       |dots AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, sum(q.v * e.v) AS dp
       |  FROM q JOIN e ON q.pos = e.pos AND q.vec_id <> e.vec_id$bucketJoins
       |  WHERE 1 = 1$bucketCond
       |  GROUP BY 1, 2),
       |scored AS (SELECT query_id, neighbor_id,
       |    round(dp / (nq.nrm * nc.nrm), 6) AS cosine_sim
       |  FROM dots
       |  JOIN norms nq ON nq.vec_id = query_id
       |  JOIN norms nc ON nc.vec_id = neighbor_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, rank
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Multi-probe LSH oracle: the bucketed cosine chain with the query side
    * matching its own bucket OR any single-bit flip of it — same flip
    * expressions generated from the same dims. A candidate's bucket equals
    * at most ONE probe (probes are pairwise distinct), so the probe list
    * join cannot duplicate pairs. */
  private val annMultiprobeOracle = {
    val bucketExpr = AnnDims
      .map(i => s"(CASE WHEN embedding[${i + 1}] >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    val d = AnnDims.size
    val flipExprs = (0 until d).map { i =>
      s"substring(bucket, 1, $i) || (CASE WHEN substring(bucket, ${i + 1}, 1) = '1' " +
        s"THEN '0' ELSE '1' END) || substring(bucket, ${i + 2}, $d)"
    }
    s"""WITH $embCtes,
       |buckets AS (SELECT vec_id, $bucketExpr AS bucket FROM embeddings),
       |qp AS (SELECT vec_id, unnest([bucket, ${flipExprs.mkString(", ")}]) AS pb
       |  FROM buckets WHERE vec_id % 50 = 0),
       |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
       |dots AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, sum(q.v * e.v) AS dp
       |  FROM q JOIN e ON q.pos = e.pos AND q.vec_id <> e.vec_id
       |  JOIN buckets bc ON bc.vec_id = e.vec_id
       |  JOIN qp ON qp.vec_id = q.vec_id AND qp.pb = bc.bucket
       |  GROUP BY 1, 2),
       |scored AS (SELECT query_id, neighbor_id,
       |    round(dp / (nq.nrm * nc.nrm), 6) AS cosine_sim
       |  FROM dots
       |  JOIN norms nq ON nq.vec_id = query_id
       |  JOIN norms nc ON nc.vec_id = neighbor_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
       |SELECT query_id, neighbor_id, cosine_sim, rank
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** ANN recall oracle: the multiprobe chain and the brute-force chain in
    * one WITH (prefixed CTE names), joined per (query, neighbor) at
    * rank ≤ 3 — hit counts are integers, recall = n/3 rounded. */
  private val annRecallOracle = {
    val bucketExpr = AnnDims
      .map(i => s"(CASE WHEN embedding[${i + 1}] >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    val d = AnnDims.size
    val flipExprs = (0 until d).map { i =>
      s"substring(bucket, 1, $i) || (CASE WHEN substring(bucket, ${i + 1}, 1) = '1' " +
        s"THEN '0' ELSE '1' END) || substring(bucket, ${i + 2}, $d)"
    }
    s"""WITH $embCtes,
       |buckets AS (SELECT vec_id, $bucketExpr AS bucket FROM embeddings),
       |qp AS (SELECT vec_id, unnest([bucket, ${flipExprs.mkString(", ")}]) AS pb
       |  FROM buckets WHERE vec_id % 50 = 0 AND vec_id < $EvalQueryCut),
       |q AS (SELECT * FROM e WHERE vec_id % 50 = 0 AND vec_id < $EvalQueryCut),
       |mp_dots AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, sum(q.v * e.v) AS dp
       |  FROM q JOIN e ON q.pos = e.pos AND q.vec_id <> e.vec_id
       |  JOIN buckets bc ON bc.vec_id = e.vec_id
       |  JOIN qp ON qp.vec_id = q.vec_id AND qp.pb = bc.bucket
       |  GROUP BY 1, 2),
       |mp_ranked AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(dp / (nq.nrm * nc.nrm), 6) DESC, neighbor_id ASC) AS rank
       |  FROM mp_dots
       |  JOIN norms nq ON nq.vec_id = query_id
       |  JOIN norms nc ON nc.vec_id = neighbor_id),
       |bf_dots AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, sum(q.v * e.v) AS dp
       |  FROM q JOIN e ON q.pos = e.pos AND q.vec_id <> e.vec_id
       |  GROUP BY 1, 2),
       |bf_ranked AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(dp / (nq.nrm * nc.nrm), 6) DESC, neighbor_id ASC) AS rank
       |  FROM bf_dots
       |  JOIN norms nq ON nq.vec_id = query_id
       |  JOIN norms nc ON nc.vec_id = neighbor_id)
       |SELECT b.query_id AS query_id,
       |  CAST(count(m.neighbor_id) AS BIGINT) AS n_hits,
       |  round(count(m.neighbor_id) / 3.0, 6) AS recall
       |FROM (SELECT * FROM bf_ranked WHERE rank <= 3) b
       |LEFT JOIN (SELECT * FROM mp_ranked WHERE rank <= 3) m
       |  ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
       |GROUP BY b.query_id ORDER BY query_id""".stripMargin
  }

  /** e_ann_recall_sweep rebuilt relationally: the shared cell-assignment
    * and probe-ranking CTEs feed one candidate/ranked/stats chain per probe
    * count, unioned with the brute-force top-k to grade each branch. */
  private val annRecallSweepOracle = {
    val perP = SweepProbes.map { p =>
      s"""cand$p AS (SELECT pr.qid, a.vid FROM probe_rn pr
         |  JOIN assigned a ON pr.cell_id = a.cell_id
         |  WHERE pr.rn <= $p AND pr.qid <> a.vid),
         |qd$p AS (SELECT c.qid AS query_id, c.vid AS neighbor_id, sum(q.v * t.v) AS dp
         |  FROM cand$p c
         |  JOIN e q ON q.vec_id = c.qid
         |  JOIN e t ON t.vec_id = c.vid AND t.pos = q.pos
         |  GROUP BY 1, 2),
         |rk$p AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, neighbor_id ASC) AS rank
         |  FROM qd$p JOIN norms n1 ON n1.vec_id = query_id
         |  JOIN norms n2 ON n2.vec_id = neighbor_id),
         |st$p AS (SELECT CAST($p AS BIGINT) AS n_probe,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cand$p) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM rk$p r
         |     JOIN bf3 b ON r.query_id = b.query_id AND r.neighbor_id = b.neighbor_id
         |     WHERE r.rank <= $SweepK) AS n_hits)""".stripMargin
    }.mkString(",\n")
    val union = SweepProbes.map(p =>
      s"""SELECT n_probe, nq.n_queries, n_candidates, n_hits,
         |  round(n_hits / (${SweepK}.0 * nq.n_queries), 6) AS recall
         |FROM st$p CROSS JOIN nq""".stripMargin).mkString("\n  UNION ALL\n")
    s"""WITH $embCtes,
       |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM embeddings
       |  WHERE vec_id % 50 = 0 AND vec_id < $EvalQueryCut),
       |vc AS (SELECT v.vec_id AS vid, c.vec_id AS cell_id, sum(v.v * c.v) AS dp
       |  FROM e v JOIN e c ON v.pos = c.pos
       |  WHERE c.vec_id % 50 = 1
       |  GROUP BY 1, 2),
       |vcs AS (SELECT vid, cell_id, round(dp / (nv.nrm * nc.nrm), 6) AS cs
       |  FROM vc JOIN norms nv ON nv.vec_id = vid
       |  JOIN norms nc ON nc.vec_id = cell_id),
       |assigned AS (SELECT vid, cell_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
       |  FROM vcs) WHERE rn = 1),
       |probe_rn AS (SELECT vid AS qid, cell_id, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
       |  FROM vcs WHERE vid % 50 = 0 AND vid < $EvalQueryCut)),
       |bf_dots AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, sum(q.v * e.v) AS dp
       |  FROM (SELECT * FROM e WHERE vec_id % 50 = 0 AND vec_id < $EvalQueryCut) q
       |  JOIN e ON q.pos = e.pos AND q.vec_id <> e.vec_id
       |  GROUP BY 1, 2),
       |bf3 AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(dp / (nq2.nrm * nc2.nrm), 6) DESC, neighbor_id ASC) AS rank
       |  FROM bf_dots JOIN norms nq2 ON nq2.vec_id = query_id
       |  JOIN norms nc2 ON nc2.vec_id = neighbor_id) WHERE rank <= $SweepK),
       |$perP
       |$union
       |ORDER BY n_probe""".stripMargin
  }

  // IVF search chain parameterized by the final rank predicate: the same
  // SQL serves the top-k oracle (rank <= k) and the hard-negative oracle
  // (a rank BAND below the shortlist head).
  private def ivfRankedOracle(rankPred: String): String =
    s"""$ivfRankedChain
       |SELECT query_id, neighbor_id, cosine_sim, rank
       |FROM ranked WHERE $rankPred
       |ORDER BY query_id, rank""".stripMargin

  /** The IVF search chain (assignment → nProbe=2 probes → exact-scored
    * candidates → per-query rank) up through `ranked` — shared by the
    * top-k read and the NDCG grader. */
  private val ivfRankedChain =
    s"""WITH $embCtes,
       |vc AS (SELECT v.vec_id AS vid, c.vec_id AS cell_id, sum(v.v * c.v) AS dp
       |  FROM e v JOIN e c ON v.pos = c.pos
       |  WHERE c.vec_id % 50 = 1
       |  GROUP BY 1, 2),
       |vcs AS (SELECT vid, cell_id, round(dp / (nv.nrm * nc.nrm), 6) AS cs
       |  FROM vc JOIN norms nv ON nv.vec_id = vid
       |  JOIN norms nc ON nc.vec_id = cell_id),
       |assigned AS (SELECT vid, cell_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
       |  FROM vcs) WHERE rn = 1),
       |probes AS (SELECT vid AS qid, cell_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
       |  FROM vcs WHERE vid % 50 = 0) WHERE rn <= 2),
       |cand AS (SELECT p.qid, a.vid FROM probes p
       |  JOIN assigned a ON p.cell_id = a.cell_id WHERE p.qid <> a.vid),
       |qd AS (SELECT cand.qid AS query_id, cand.vid AS neighbor_id, sum(q.v * t.v) AS dp
       |  FROM cand
       |  JOIN e q ON q.vec_id = cand.qid
       |  JOIN e t ON t.vec_id = cand.vid AND t.pos = q.pos
       |  GROUP BY 1, 2),
       |scored AS (SELECT query_id, neighbor_id, round(dp / (nq.nrm * nt.nrm), 6) AS cosine_sim
       |  FROM qd JOIN norms nq ON nq.vec_id = query_id
       |  JOIN norms nt ON nt.vec_id = neighbor_id),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)""".stripMargin

  private val ivfOracle = ivfRankedOracle("rank <= 3")

  /** NDCG@k of the IVF list against brute-force ideal ordering: gain =
    * (cosine + 1)/2 (shifted non-negative), discount 1/log2(rank + 1). */
  private val retrievalNdcgOracle =
    s"""$ivfRankedChain,
       |bf_dots AS (SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
       |    sum(q.v * e2.v) AS dp
       |  FROM e q JOIN e e2 ON q.pos = e2.pos AND q.vec_id <> e2.vec_id
       |  WHERE q.vec_id % 50 = 0 AND q.vec_id < $EvalQueryCut GROUP BY 1, 2),
       |bfs AS (SELECT query_id, neighbor_id,
       |    round(dp / (nq.nrm * nc.nrm), 6) AS cosine_sim
       |  FROM bf_dots JOIN norms nq ON nq.vec_id = query_id
       |  JOIN norms nc ON nc.vec_id = neighbor_id),
       |bfr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM bfs),
       |dcg AS (SELECT query_id,
       |    sum(((cosine_sim + 1.0) / 2.0) / (ln(rank + 1.0) / ln(2.0))) AS dcg
       |  FROM ranked WHERE rank <= $SweepK GROUP BY 1),
       |idcg AS (SELECT query_id,
       |    sum(((cosine_sim + 1.0) / 2.0) / (ln(rank + 1.0) / ln(2.0))) AS idcg
       |  FROM bfr WHERE rank <= $SweepK GROUP BY 1)
       |SELECT d.query_id, round(d.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
       |  round(d.dcg / i.idcg, 6) AS ndcg
       |FROM dcg d JOIN idcg i ON d.query_id = i.query_id
       |ORDER BY d.query_id""".stripMargin

  /** MRR: reciprocal rank of the brute-force NN inside the IVF list. */
  private val retrievalMrrOracle =
    s"""$ivfRankedChain,
       |bf_dots AS (SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
       |    sum(q.v * e2.v) AS dp
       |  FROM e q JOIN e e2 ON q.pos = e2.pos AND q.vec_id <> e2.vec_id
       |  WHERE q.vec_id % 50 = 0 AND q.vec_id < $EvalQueryCut GROUP BY 1, 2),
       |bfs AS (SELECT query_id, neighbor_id,
       |    round(dp / (nq.nrm * nc.nrm), 6) AS cosine_sim
       |  FROM bf_dots JOIN norms nq ON nq.vec_id = query_id
       |  JOIN norms nc ON nc.vec_id = neighbor_id),
       |bfr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM bfs),
       |nn AS (SELECT query_id, neighbor_id AS nn_id FROM bfr
       |  WHERE rank = 1),
       |hit AS (SELECT nn.query_id, min(r.rank) AS hit_rank
       |  FROM nn LEFT JOIN ranked r ON r.query_id = nn.query_id
       |    AND r.neighbor_id = nn.nn_id AND r.rank <= $SweepK
       |  GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(CASE WHEN hit_rank IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_found,
       |  round(avg(CASE WHEN hit_rank IS NULL THEN 0.0
       |    ELSE 1.0 / hit_rank END), 6) AS mrr
       |FROM hit""".stripMargin

  private val dedupApplyOracle = {
    val matchSum = (0 until K)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$sigsCte,
       |$bandsCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |dups AS (SELECT DISTINCT p.doc_b FROM pairs p
       |  JOIN sigs sa ON p.doc_a = sa.doc_id
       |  JOIN sigs sb ON p.doc_b = sb.doc_id
       |  WHERE round(($matchSum) / $K.0, 6) >= 0.5)
       |SELECT doc_id, lang FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM dups)
       |ORDER BY doc_id""".stripMargin
  }

  /** CTE chain (no WITH prefix) ending at the symmetric self-looped `edges`
    * table of high-confidence MinHash pairs — shared by the cluster,
    * leakage-split, and connected-components oracles. */
  private val clusterEdgesChain = {
    val matchSum = (0 until K)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$toksCte,
       |${shCte(distinct = false)},
       |$sigsCte,
       |$bandsCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |fpairs AS (SELECT p.doc_a, p.doc_b FROM pairs p
       |  JOIN sigs sa ON p.doc_a = sa.doc_id
       |  JOIN sigs sb ON p.doc_b = sb.doc_id
       |  WHERE round(($matchSum) / $K.0, 6) >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM fpairs
       |  UNION SELECT doc_b, doc_a FROM fpairs
       |  UNION SELECT doc_id, doc_id FROM documents)""".stripMargin
  }

  /** Shared CTE chain ending at `l3 (doc_id, cluster_id)` — the 3-round
    * label-propagation cluster table (reused by the leakage-split oracle). */
  private val clustersCte = {
    val rounds = (1 to 3).map { r =>
      s"""l$r AS (SELECT e.src AS doc_id, min(l.cluster_id) AS cluster_id
         |  FROM edges e JOIN l${r - 1} l ON e.dst = l.doc_id GROUP BY e.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $clusterEdgesChain,
       |l0 AS (SELECT doc_id, doc_id AS cluster_id FROM documents),
       |$rounds""".stripMargin
  }

  /** TRUE connected components via a recursive reachability closure: every
    * doc collects every label reachable through the edge set, then keeps the
    * minimum — the fixpoint the engine's large-star/small-star contraction
    * converges to, computed by DuckDB's WITH RECURSIVE (UNION dedup bounds
    * the closure at Σ component², fine at oracle scale). */
  private val connectedComponentsOracle =
    s"""WITH RECURSIVE $clusterEdgesChain,
       |cc(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, cc.lbl FROM edges e JOIN cc ON e.dst = cc.doc_id)
       |SELECT doc_id, min(lbl) AS cluster_id FROM cc
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val clustersOracle =
    s"$clustersCte\nSELECT doc_id, cluster_id FROM l3 ORDER BY doc_id"

  /** Two deterministic Lloyd rounds over the embeddings: c0 = seeded
    * centroids, a1/a2 = argmin assignments (rn = 1), c1 = updated means —
    * shared by the e_kmeans and e_semantic_dedup oracles. */
  private val kmeansCte =
    """e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |       CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |c0 AS (SELECT CAST(dense_rank() OVER (ORDER BY vec_id) AS BIGINT) AS cid, pos, v
      |       FROM e WHERE vec_id % 50 = 1),
      |d1 AS (SELECT e.vec_id, c0.cid, sum((e.v - c0.v) * (e.v - c0.v)) AS d2
      |       FROM e JOIN c0 ON e.pos = c0.pos GROUP BY 1, 2),
      |a1 AS (SELECT vec_id, cid,
      |       row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn FROM d1),
      |c1 AS (SELECT a1.cid, e.pos, avg(e.v) AS v
      |       FROM a1 JOIN e ON e.vec_id = a1.vec_id WHERE a1.rn = 1 GROUP BY 1, 2),
      |d2x AS (SELECT e.vec_id, c1.cid, sum((e.v - c1.v) * (e.v - c1.v)) AS d2
      |       FROM e JOIN c1 ON e.pos = c1.pos GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, cid, d2,
      |       row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn FROM d2x)""".stripMargin

  private val embeddingDriftOracle =
    s"""WITH $kmeansCte,
       |asg AS (SELECT a2.vec_id, cid, vec_id % 2 = 0 AS even
       |  FROM a2 WHERE rn = 1),
       |m AS (SELECT asg.cid, asg.even, e.pos, avg(e.v) AS m
       |  FROM asg JOIN e ON e.vec_id = asg.vec_id GROUP BY 1, 2, 3),
       |cosx AS (SELECT me.cid,
       |  round(sum(me.m * mo.m)
       |    / (sqrt(sum(me.m * me.m)) * sqrt(sum(mo.m * mo.m))), 6)
       |    AS centroid_cos
       |  FROM (SELECT * FROM m WHERE even) me
       |  JOIN (SELECT * FROM m WHERE NOT even) mo
       |    ON mo.cid = me.cid AND mo.pos = me.pos
       |  GROUP BY 1),
       |cnt AS (SELECT cid,
       |  sum(CASE WHEN even THEN 1 ELSE 0 END) AS n_even,
       |  sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS n_odd
       |  FROM asg GROUP BY 1)
       |SELECT cnt.cid AS cell_id, CAST(n_even AS BIGINT) AS n_even,
       |  CAST(n_odd AS BIGINT) AS n_odd, cosx.centroid_cos
       |FROM cnt LEFT JOIN cosx ON cosx.cid = cnt.cid
       |ORDER BY cell_id""".stripMargin

  private val semanticDedupOracle = {
    val rounds = (1 to 3).map { r =>
      s"""l$r AS (SELECT g.src AS doc_id, min(l.cluster_id) AS cluster_id
         |  FROM sedges g JOIN l${r - 1} l ON g.dst = l.doc_id GROUP BY g.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $kmeansCte,
       |asg AS (SELECT vec_id, cid FROM a2 WHERE rn = 1),
       |vnorms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
       |cp AS (SELECT a.vec_id AS ida, b.vec_id AS idb, sum(ea.v * eb.v) AS dp
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
       |  GROUP BY 1, 2),
       |sp AS (SELECT ida, idb FROM cp
       |  JOIN vnorms na ON na.vec_id = ida
       |  JOIN vnorms nb ON nb.vec_id = idb
       |  WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.35),
       |sedges AS (SELECT ida AS src, idb AS dst FROM sp
       |  UNION SELECT idb, ida FROM sp
       |  UNION SELECT vec_id, vec_id FROM embeddings),
       |l0 AS (SELECT vec_id AS doc_id, vec_id AS cluster_id FROM embeddings),
       |$rounds
       |SELECT l3.doc_id AS vec_id, asg.cid AS cluster_id,
       |       l3.cluster_id AS rep_id, l3.cluster_id = l3.doc_id AS kept
       |FROM l3 JOIN asg ON asg.vec_id = l3.doc_id
       |ORDER BY vec_id""".stripMargin
  }

  private val leakageSplitOracle = {
    val bucket = s"${hexHashSql("CAST(cluster_id AS VARCHAR)", "split|")} % 100"
    s"""$clustersCte
       |SELECT doc_id, cluster_id,
       |  CASE WHEN $bucket < 80 THEN 'train'
       |       WHEN $bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM l3 ORDER BY doc_id""".stripMargin
  }

  private val mixtureSampleOracle = {
    val rk = hexHashSql("CAST(doc_id AS VARCHAR)", "mix|")
    val budgetCase = MixBudgets.toSeq.sortBy(_._1)
      .map { case (l, b) => s"WHEN '$l' THEN $b" }.mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS BIGINT) AS n_tokens,
       |    $rk AS rk
       |  FROM documents),
       |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY rk, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
       |SELECT doc_id, lang, n_tokens FROM c
       |WHERE cum <= CASE lang $budgetCase ELSE 0 END
       |ORDER BY doc_id""".stripMargin
  }

  private val quantizeOracle =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |       CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
      |ma AS (SELECT vec_id, max(abs(v)) AS max_abs FROM e GROUP BY vec_id),
      |q AS (SELECT e.vec_id, pos, v, max_abs,
      |        CAST(round(v * 127.0 / max_abs, 0) AS BIGINT) AS qv
      |      FROM e JOIN ma ON e.vec_id = ma.vec_id)
      |SELECT vec_id, max(max_abs) AS max_abs,
      |       CAST(sum(qv * pos) AS BIGINT) AS checksum,
      |       CAST(sum(CASE WHEN abs(qv) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
      |       CAST(sum(abs(qv)) AS BIGINT) AS sum_abs_q
      |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  private val framesOracle =
    """WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes FROM documents),
      |f AS (SELECT media_id, n_bytes,
      |        greatest(CAST(ceil(n_bytes / 256.0) AS BIGINT), 1) AS n_frames FROM m),
      |fr AS (SELECT media_id, n_bytes, unnest(range(0, n_frames)) AS idx FROM f)
      |SELECT media_id, CAST(count(*) AS BIGINT) AS n_sampled,
      |       CAST(sum(least(256, n_bytes - idx * 256)) AS BIGINT) AS sampled_bytes
      |FROM fr WHERE idx % 2 = 0
      |GROUP BY media_id ORDER BY media_id""".stripMargin

  // Same banded sign-LSH semantics as Similarity.cosineNearDupPairs,
  // generated from the same (NearDupBandBits, NearDupBands, threshold)
  // constants so algorithm and oracle cannot drift. Ends at `pr`
  // (id_a, id_b, cosine_sim — thresholded) so consumers can append CTEs.
  private lazy val neardupPairCtes: String = {
    val sigCols = (0 until NearDupBands).map { b =>
      val bits = (b * NearDupBandBits until (b + 1) * NearDupBandBits)
        .map(i => s"(CASE WHEN embedding[${i + 1}] >= 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"$bits AS s$b"
    }.mkString(",\n  ")
    val bandMatch = (0 until NearDupBands)
      .map(b => s"a.s$b = b.s$b").mkString(" OR ")
    s"""sigs AS (SELECT vec_id,
       |  $sigCols
       |FROM embeddings),
       |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sigs a JOIN sigs b
       |  ON a.vec_id < b.vec_id AND ($bandMatch)),
       |e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       |       CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
       |dots AS (SELECT c.id_a, c.id_b, sum(a.v * b.v) AS dp
       |  FROM cand c
       |  JOIN e a ON a.vec_id = c.id_a
       |  JOIN e b ON b.vec_id = c.id_b AND b.pos = a.pos
       |  GROUP BY 1, 2),
       |pr AS (SELECT id_a, id_b, round(dp / (na.nrm * nb.nrm), 6) AS cosine_sim
       |  FROM dots
       |  JOIN norms na ON na.vec_id = id_a
       |  JOIN norms nb ON nb.vec_id = id_b
       |  WHERE round(dp / (na.nrm * nb.nrm), 6) >= $NearDupThreshold)""".stripMargin
  }

  private lazy val neardupOracle =
    s"""WITH $neardupPairCtes
       |SELECT id_a, id_b, cosine_sim FROM pr ORDER BY id_a, id_b""".stripMargin

  private lazy val mutualNeighborsOracle =
    s"""WITH $neardupPairCtes,
       |sym AS (SELECT id_a AS id, id_b AS p, cosine_sim AS s FROM pr
       |        UNION ALL SELECT id_b, id_a, cosine_sim FROM pr),
       |best AS (SELECT id, p, s FROM sym
       |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY s DESC, p) = 1)
       |SELECT x.id AS id_a, x.p AS id_b, x.s AS cosine_sim
       |FROM best x JOIN best y ON x.p = y.id AND y.p = x.id AND x.id < y.id
       |ORDER BY id_a, id_b""".stripMargin

  // Script-mix profile: RE2 spells the script property \p{Han} where
  // java.util.regex needs \p{IsHan} — same Unicode class, two syntaxes.
  private val scriptProfileOracle = {
    val classes = TextAnalysis.scriptClasses
    val cols = classes.map(c =>
      s"len(regexp_extract_all(text, '\\p{$c}')) AS n_${c.toLowerCase}")
      .mkString(",\n  ")
    val best =
      s"greatest(${classes.map(c => s"n_${c.toLowerCase}").mkString(", ")})"
    val arms = classes.map(c =>
      s"WHEN n_${c.toLowerCase} = m AND m > 0 THEN '${c.toLowerCase}'")
      .mkString(" ")
    val outs = classes.map(c =>
      s"CAST(n_${c.toLowerCase} AS BIGINT) AS n_${c.toLowerCase}")
      .mkString(", ")
    s"""WITH sc AS (SELECT doc_id, length(text) AS n_chars, $cols
       |  FROM documents),
       |mm AS (SELECT *, $best AS m FROM sc)
       |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, $outs,
       |  CASE $arms ELSE 'none' END AS dominant
       |FROM mm ORDER BY doc_id""".stripMargin
  }

  private val langidOracle = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scoreCols = langs.map { l =>
      val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(t, x -> x IN ($words))) AS s_$l"
    }.mkString(",\n  ")
    val mExpr = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    s"""WITH ltoks AS (SELECT doc_id, lang, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  $scoreCols
       |FROM ltoks),
       |scored AS (SELECT *, $mExpr AS m FROM sc)
       |SELECT doc_id, lang AS labeled,
       |  CASE $caseArms ELSE 'und' END AS predicted,
       |  (CASE $caseArms ELSE 'und' END) = lang AS matches_label
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // Same stopword-score prediction as langidOracle, aggregated to the
  // labeled × predicted confusion grid with per-label recall shares
  private val langConfusionOracle = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scoreCols = langs.map { l =>
      val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(t, x -> x IN ($words))) AS s_$l"
    }.mkString(",\n  ")
    val mExpr = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    s"""WITH ltoks AS (SELECT doc_id, lang, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  $scoreCols
       |FROM ltoks),
       |scored AS (SELECT *, $mExpr AS m FROM sc),
       |p AS (SELECT lang AS labeled,
       |  CASE $caseArms ELSE 'und' END AS predicted FROM scored),
       |t AS (SELECT labeled, count(*) AS n_labeled FROM p GROUP BY 1)
       |SELECT p.labeled, p.predicted, CAST(count(*) AS BIGINT) AS n,
       |  round(count(*) / CAST(min(t.n_labeled) AS DOUBLE), 6) AS share
       |FROM p JOIN t USING (labeled)
       |GROUP BY p.labeled, p.predicted ORDER BY labeled, predicted""".stripMargin
  }

  // Same stopword scores as langidOracle, plus the best-vs-second gap:
  // the 4 hit counts sort inside a list, margin normalizes by token count
  private val langidMarginOracle = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scoreCols = langs.map { l =>
      val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(t, x -> x IN ($words))) AS s_$l"
    }.mkString(",\n  ")
    val mExpr = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    val sortedList = s"list_sort([${langs.map(l => s"s_$l").mkString(", ")}], 'DESC')"
    s"""WITH ltoks AS (SELECT doc_id, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
       |sc AS (SELECT doc_id, t,
       |  $scoreCols
       |FROM ltoks),
       |scored AS (SELECT *, $mExpr AS m, $sortedList AS srt FROM sc)
       |SELECT doc_id,
       |  CASE $caseArms ELSE 'und' END AS predicted,
       |  CAST(srt[1] AS BIGINT) AS best_hits,
       |  CAST(srt[2] AS BIGINT) AS second_hits,
       |  round(CAST(srt[1] - srt[2] AS DOUBLE)
       |    / greatest(CAST(len(t) AS DOUBLE), 1.0), 6) AS margin
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // Segment-grain language ID (same stopword lists, same first-match CASE
  // order as langidOracle), then the doc-grain mixture profile: dominant
  // language via (count DESC, lang ASC) — exactly the Spark side's
  // min(struct(-c, lg)) — plus the adjacent-segment switch count.
  private val codeSwitchOracle = {
    val w = CsSegTokens
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scoreCols = langs.map { l =>
      val words = TextAnalysis.stopwords(l).map(x => s"'$x'").mkString(", ")
      s"len(list_filter(s, x -> x IN ($words))) AS s_$l"
    }.mkString(",\n  ")
    val mExpr = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
    s"""WITH $toksCte,
       |segs AS (SELECT doc_id,
       |  unnest(range(0, greatest(CAST(ceil(len(t) / $w.0) AS BIGINT), 1))) AS pos, t
       |  FROM toks),
       |st AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |  t[pos*$w+1 : pos*$w+$w] AS s FROM segs),
       |sc AS (SELECT doc_id, pos, $scoreCols FROM st),
       |lgt AS (SELECT doc_id, pos, CASE $caseArms ELSE 'und' END AS lg
       |  FROM (SELECT *, $mExpr AS m FROM sc)),
       |counts AS (SELECT doc_id, lg, count(*) AS c FROM lgt GROUP BY 1, 2),
       |dom AS (SELECT doc_id, lg AS dominant_lang, c FROM (
       |  SELECT doc_id, lg, c, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY c DESC, lg ASC) AS rn FROM counts) WHERE rn = 1),
       |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_segments,
       |  CAST(count(*) FILTER (WHERE lg <> 'und') AS BIGINT) AS n_langs
       |  FROM counts GROUP BY doc_id),
       |sw AS (SELECT doc_id,
       |  CAST(count(*) FILTER (WHERE lg <> plg) AS BIGINT) AS n_switches FROM (
       |  SELECT doc_id, lg, lag(lg) OVER (PARTITION BY doc_id ORDER BY pos) AS plg
       |  FROM lgt) WHERE plg IS NOT NULL GROUP BY doc_id)
       |SELECT a.doc_id, a.n_segments, a.n_langs, d.dominant_lang,
       |  round(CAST(d.c AS DOUBLE) / a.n_segments, 6) AS dominant_share,
       |  CAST(coalesce(sw.n_switches, 0) AS BIGINT) AS n_switches
       |FROM agg a JOIN dom d USING (doc_id) LEFT JOIN sw USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** The quality-score formula as DuckDB SQL over a (documents ⋈ toks)
    * row source — shared by the per-doc quality oracle and the grouped
    * top-k oracle so the two cannot drift. */
  private val qualityScoreSql = {
    val allStops = TextAnalysis.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    s"""round(
       |    least(length(text) / 500.0, 1.0) * 0.3
       |    + (len(regexp_extract_all(text, '[a-zA-Z]')) / greatest(length(text), 1)) * 0.4
       |    + least(len(list_filter(t, x -> x IN ($allStops))) * 4.0 / greatest(len(t), 1), 1.0) * 0.3,
       |  6)""".stripMargin
  }

  private val qualityOracle =
    s"""WITH $toksCte
       |SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  $qualityScoreSql AS quality_score
       |FROM (SELECT d.*, t FROM documents d, toks WHERE d.doc_id = toks.doc_id)
       |ORDER BY doc_id""".stripMargin

  private val curationFunnelOracle = {
    val matchSum = (0 until K)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$sigsCte,
       |$bandsCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |dupb AS (SELECT DISTINCT p.doc_b FROM pairs p
       |  JOIN sigs sa ON p.doc_a = sa.doc_id
       |  JOIN sigs sb ON p.doc_b = sb.doc_id
       |  WHERE round(($matchSum) / $K.0, 6) >= 0.5),
       |$hshCtes,
       |bench AS (SELECT DISTINCT sh FROM hsh WHERE doc_id % 97 = 0),
       |cont AS (SELECT DISTINCT h.doc_id FROM hsh h JOIN bench b ON h.sh = b.sh
       |  WHERE h.doc_id % 97 <> 0),
       |q AS (SELECT doc_id, text, $qualityScoreSql AS qs
       |  FROM (SELECT d.*, t FROM documents d, toks WHERE d.doc_id = toks.doc_id)),
       |f AS (SELECT doc_id, (doc_id % 97 <> 0) AS c2,
       |  (doc_id % 97 <> 0 AND qs >= 0.55) AS c3,
       |  md5(trim(lower(text))) AS ch FROM q),
       |ms AS (SELECT *, min(CASE WHEN c3 THEN doc_id END)
       |    OVER (PARTITION BY ch) AS msv FROM f),
       |g AS (SELECT doc_id, c2, c3, (c3 AND doc_id = msv) AS c4 FROM ms),
       |h AS (SELECT g.*,
       |  (c4 AND doc_id NOT IN (SELECT doc_b FROM dupb)) AS c5,
       |  (c4 AND doc_id NOT IN (SELECT doc_b FROM dupb)
       |      AND doc_id NOT IN (SELECT doc_id FROM cont)) AS c6 FROM g)
       |SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name,
       |       (SELECT count(*) FROM documents) AS n_docs
       |UNION ALL SELECT 2, 'benchmark_removed', (SELECT count(*) FROM h WHERE c2)
       |UNION ALL SELECT 3, 'quality', (SELECT count(*) FROM h WHERE c3)
       |UNION ALL SELECT 4, 'exact_dedup', (SELECT count(*) FROM h WHERE c4)
       |UNION ALL SELECT 5, 'near_dup', (SELECT count(*) FROM h WHERE c5)
       |UNION ALL SELECT 6, 'decontaminated', (SELECT count(*) FROM h WHERE c6)
       |ORDER BY stage""".stripMargin
  }

  private val topQualityDocsOracle =
    s"""WITH $toksCte,
       |q AS (SELECT doc_id, lang, $qualityScoreSql AS quality_score
       |  FROM (SELECT d.*, t FROM documents d, toks WHERE d.doc_id = toks.doc_id)),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
       |    ORDER BY quality_score DESC, doc_id ASC) AS BIGINT) AS rank FROM q)
       |SELECT lang, doc_id, quality_score, rank FROM r WHERE rank <= 5
       |ORDER BY lang, rank""".stripMargin

  private val fingerprintOracle = {
    val powCase = TextAnalysis.FpPowers.zipWithIndex
      .map { case (p, i) => s"WHEN $i THEN $p" }.mkString(" ")
    s"""WITH t AS (SELECT doc_id,
       |    unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS tok,
       |    generate_subscripts(regexp_extract_all(text, '[\\p{L}\\p{N}]+'), 1) - 1 AS pos
       |  FROM documents),
       |terms AS (SELECT doc_id,
       |    ((${TextAnalysis.FpBase} * length(tok) + ascii(substring(tok, 1, 1)))
       |      * (CASE pos % 8 $powCase END)) % ${TextAnalysis.FpMod} AS term
       |  FROM t)
       |SELECT doc_id, CAST(sum(term) % ${TextAnalysis.FpMod} AS BIGINT) AS fingerprint
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Shared PQ CTEs, generated from the same (PqM, PqSubDim) constants as
    * the Spark side: `cw` = codewords (vec_id % 50 == 1 in id order →
    * cids 1..K), `pd` = per-(vector, subspace, codeword) squared distance,
    * `code` = the argmin (rn = 1), tie-broken (d2, cid) exactly like
    * NearestCentroid. `pqChain` references an `e` CTE declared by the
    * caller (standalone form below; the IVF-PQ oracle reuses embCtes'). */
  private val pqChain =
    s"""cw AS (SELECT CAST(dense_rank() OVER (ORDER BY vec_id) AS BIGINT) AS cid, pos, v
       |       FROM e WHERE vec_id % 50 = 1),
       |pd AS (SELECT e.vec_id, CAST((e.pos - 1) // $PqSubDim AS BIGINT) AS m, cw.cid,
       |       sum((e.v - cw.v) * (e.v - cw.v)) AS d2
       |       FROM e JOIN cw ON e.pos = cw.pos
       |       WHERE e.pos <= ${PqM * PqSubDim}
       |       GROUP BY 1, 2, 3),
       |code AS (SELECT vec_id, m, cid AS code, d2,
       |       row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, cid ASC) AS rn
       |       FROM pd)""".stripMargin

  private val pqCte =
    s"""e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       |       CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
       |$pqChain""".stripMargin

  private val pqEncodeOracle =
    s"""WITH $pqCte
       |SELECT vec_id, m, code, round(d2, 6) AS sub_d2 FROM code
       |WHERE rn = 1 ORDER BY vec_id, m""".stripMargin

  private val pqAdcOracle =
    s"""WITH $pqCte,
       |lut AS (SELECT e.vec_id AS query_id, CAST((e.pos - 1) // $PqSubDim AS BIGINT) AS m,
       |       cw.cid, sum((e.v - cw.v) * (e.v - cw.v)) AS pd2
       |       FROM e JOIN cw ON e.pos = cw.pos
       |       WHERE e.vec_id % 50 = 0 AND e.vec_id < $EvalQueryCut
       |         AND e.pos <= ${PqM * PqSubDim}
       |       GROUP BY 1, 2, 3),
       |adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
       |       round(sum(l.pd2), 6) AS adc_d2
       |       FROM (SELECT vec_id, m, code FROM code WHERE rn = 1) c
       |       JOIN lut l ON l.m = c.m AND l.cid = c.code
       |       WHERE c.vec_id <> l.query_id GROUP BY 1, 2),
       |rk AS (SELECT query_id, neighbor_id, adc_d2,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY adc_d2 ASC, neighbor_id ASC) AS BIGINT) AS rank
       |       FROM adc)
       |SELECT query_id, neighbor_id, adc_d2, rank FROM rk
       |WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin

  /** IVF-PQ: the ivfOracle cell-assignment chain (rounded-cosine argmax,
    * nProbe = 2) composed with the PQ code chain and an ADC rescore —
    * everything through the ADC-ranked candidate list `ranked`, shared by
    * the top-k read and the exact-re-rank stage. */
  private lazy val ivfPqChainCtes =
    s"""$embCtes,
       |$pqChain,
       |vc AS (SELECT v.vec_id AS vid, c.vec_id AS cell_id, sum(v.v * c.v) AS dp
       |  FROM e v JOIN e c ON v.pos = c.pos
       |  WHERE c.vec_id % 50 = 1
       |  GROUP BY 1, 2),
       |vcs AS (SELECT vid, cell_id, round(dp / (nv.nrm * nc.nrm), 6) AS cs
       |  FROM vc JOIN norms nv ON nv.vec_id = vid
       |  JOIN norms nc ON nc.vec_id = cell_id),
       |assigned AS (SELECT vid, cell_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
       |  FROM vcs) WHERE rn = 1),
       |probes AS (SELECT vid AS qid, cell_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
       |  FROM vcs WHERE vid % 50 = 0) WHERE rn <= 2),
       |lut AS (SELECT e.vec_id AS qid, CAST((e.pos - 1) // $PqSubDim AS BIGINT) AS m,
       |       cw.cid, sum((e.v - cw.v) * (e.v - cw.v)) AS pd2
       |       FROM e JOIN cw ON e.pos = cw.pos
       |       WHERE e.vec_id % 50 = 0 AND e.pos <= ${PqM * PqSubDim}
       |       GROUP BY 1, 2, 3),
       |cand AS (SELECT p.qid, a.vid FROM probes p
       |  JOIN assigned a ON p.cell_id = a.cell_id WHERE p.qid <> a.vid),
       |adc AS (SELECT cand.qid AS query_id, cand.vid AS neighbor_id,
       |       round(sum(l.pd2), 6) AS adc_d2
       |       FROM cand
       |       JOIN (SELECT vec_id, m, code FROM code WHERE rn = 1) c
       |         ON c.vec_id = cand.vid
       |       JOIN lut l ON l.qid = cand.qid AND l.m = c.m AND l.cid = c.code
       |       GROUP BY 1, 2),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY adc_d2 ASC, neighbor_id ASC) AS BIGINT) AS rank FROM adc)""".stripMargin

  private val ivfPqOracle =
    s"""WITH $ivfPqChainCtes
       |SELECT query_id, neighbor_id, adc_d2, rank FROM ranked
       |WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin

  /** ADC shortlist (depth [[PqRerankDepth]]) re-scored EXACTLY: the
    * refine stage of IVFPQR — candidates re-rank on the true rounded
    * cosine read off the raw embeddings. */
  private val ivfPqRerankOracle =
    s"""WITH $ivfPqChainCtes,
       |cnd AS (SELECT query_id, neighbor_id FROM ranked
       |  WHERE rank <= $PqRerankDepth),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |    round(sum(eq.v * en.v) / (nq.nrm * nn.nrm), 6) AS cosine_sim
       |  FROM cnd c
       |  JOIN e eq ON eq.vec_id = c.query_id
       |  JOIN e en ON en.vec_id = c.neighbor_id AND en.pos = eq.pos
       |  JOIN norms nq ON nq.vec_id = c.query_id
       |  JOIN norms nn ON nn.vec_id = c.neighbor_id
       |  GROUP BY c.query_id, c.neighbor_id, nq.nrm, nn.nrm),
       |rr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank FROM ex)
       |SELECT query_id, neighbor_id, cosine_sim, rank FROM rr
       |WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin

  /** IVFADC residual oracle: the ivfPqOracle assignment/probe chain, then
    * residuals against the assigned (corpus) / probed (query) cell, a
    * shared residual codebook from the DISJOINT codeword sample
    * (vec_id % 50 == 2), per-subspace residual codes, and the ADC rescore
    * over the probe×LUT — the same composition the Spark operator builds. */
  private val ivfPqResidualOracle =
    s"""WITH $embCtes,
       |vc AS (SELECT v.vec_id AS vid, c.vec_id AS cell_id, sum(v.v * c.v) AS dp
       |  FROM e v JOIN e c ON v.pos = c.pos
       |  WHERE c.vec_id % 50 = 1
       |  GROUP BY 1, 2),
       |vcs AS (SELECT vid, cell_id, round(dp / (nv.nrm * nc.nrm), 6) AS cs
       |  FROM vc JOIN norms nv ON nv.vec_id = vid
       |  JOIN norms nc ON nc.vec_id = cell_id),
       |assigned AS (SELECT vid, cell_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
       |  FROM vcs) WHERE rn = 1),
       |probes AS (SELECT vid AS qid, cell_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
       |  FROM vcs WHERE vid % 50 = 0) WHERE rn <= 2),
       |er AS (SELECT a.vid AS vec_id, e.pos, e.v - c.v AS v
       |  FROM e JOIN assigned a ON e.vec_id = a.vid
       |  JOIN e c ON c.vec_id = a.cell_id AND c.pos = e.pos),
       |rcw AS (SELECT CAST(dense_rank() OVER (ORDER BY vec_id) AS BIGINT) AS cid, pos, v
       |  FROM er WHERE vec_id % 50 = 2),
       |rpd AS (SELECT er.vec_id, CAST((er.pos - 1) // $PqSubDim AS BIGINT) AS m, rcw.cid,
       |  sum((er.v - rcw.v) * (er.v - rcw.v)) AS d2
       |  FROM er JOIN rcw ON er.pos = rcw.pos
       |  WHERE er.pos <= ${PqM * PqSubDim}
       |  GROUP BY 1, 2, 3),
       |rcode AS (SELECT vec_id, m, cid AS code,
       |  row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, cid ASC) AS rn
       |  FROM rpd),
       |qr AS (SELECT p.qid, p.cell_id, e.pos, e.v - c.v AS v
       |  FROM probes p JOIN e ON e.vec_id = p.qid
       |  JOIN e c ON c.vec_id = p.cell_id AND c.pos = e.pos),
       |lut AS (SELECT qr.qid, qr.cell_id, CAST((qr.pos - 1) // $PqSubDim AS BIGINT) AS m,
       |  rcw.cid, sum((qr.v - rcw.v) * (qr.v - rcw.v)) AS pd2
       |  FROM qr JOIN rcw ON qr.pos = rcw.pos
       |  WHERE qr.pos <= ${PqM * PqSubDim}
       |  GROUP BY 1, 2, 3, 4),
       |adc AS (SELECT l.qid AS query_id, a.vid AS neighbor_id,
       |  round(sum(l.pd2), 6) AS adc_d2
       |  FROM assigned a
       |  JOIN (SELECT vec_id, m, code FROM rcode WHERE rn = 1) c ON c.vec_id = a.vid
       |  JOIN lut l ON l.cell_id = a.cell_id AND l.m = c.m AND l.cid = c.code
       |  WHERE a.vid <> l.qid
       |  GROUP BY 1, 2),
       |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |  ORDER BY adc_d2 ASC, neighbor_id ASC) AS BIGINT) AS rank FROM adc)
       |SELECT query_id, neighbor_id, adc_d2, rank FROM ranked
       |WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin

  /** Priority-sampling oracle: identical u/priority/τ formulas from the
    * same hash and constants. */
  private val weightedSampleOracle = {
    val u = s"((${hexHashSql("CAST(doc_id AS VARCHAR)", "prio|")} % 1000000 + 1) / 1000000.0)"
    s"""WITH t AS (SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS DOUBLE) AS weight
       |       FROM documents),
       |p AS (SELECT doc_id, weight, round(weight / $u, 6) AS priority FROM t),
       |r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn
       |       FROM p),
       |tau AS (SELECT CASE WHEN (SELECT count(*) FROM p) >= ${WsN + 1}
       |       THEN (SELECT min(priority) FROM r WHERE rn <= ${WsN + 1})
       |       ELSE 0.0 END AS tau)
       |SELECT doc_id, weight, priority,
       |       round(greatest(weight, tau.tau), 6) AS est_weight
       |FROM r CROSS JOIN tau WHERE rn <= $WsN ORDER BY doc_id""".stripMargin
  }

  /** The BM25 score CTE chain (tk … s), shared by the plain retrieval
    * oracle and the hybrid-RRF oracle. */
  private val bm25Chain = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""tk AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS term
       |       FROM documents),
       |dl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS DOUBLE) AS dl
       |       FROM documents),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |       (SELECT avg(dl) FROM dl) AS avgdl FROM documents),
       |qdf AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |       FROM tk WHERE term IN ($terms) GROUP BY term),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |       FROM tk WHERE term IN ($terms) GROUP BY 1, 2),
       |s AS (SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |       round(sum(ln(1 + (st.n_docs - qdf.df + 0.5) / (qdf.df + 0.5))
       |         * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 6) AS bm25
       |       FROM tf JOIN qdf ON tf.term = qdf.term
       |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
       |       GROUP BY tf.doc_id)""".stripMargin
  }

  private val bm25Oracle =
    s"""WITH $bm25Chain
       |SELECT doc_id, n_terms, bm25 FROM s
       |ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin

  // Dirichlet query-likelihood chain — generated from the same constants
  // as QueryLikelihood.topDocs, with the identical factored formula
  // (S − |q|·ln(dl+μ) + Σ ln(1 + tf·|C|/(μ·cf))) so the double
  // arithmetic is order-identical in both engines. CTE names are
  // q-prefixed so the chain composes with bm25Chain in one WITH block.
  private val qlChain = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""qk AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS term
       |       FROM documents),
       |qdl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS DOUBLE) AS dl
       |       FROM documents),
       |qtot AS (SELECT sum(dl) AS totc FROM qdl),
       |qcf AS (SELECT term, CAST(count(*) AS DOUBLE) AS cf
       |       FROM qk WHERE term IN ($terms) GROUP BY term),
       |qsc AS (SELECT sum(ln($QlMu * cf / totc)) AS s,
       |       CAST(count(*) AS DOUBLE) AS nq FROM qcf CROSS JOIN qtot),
       |qtf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |       FROM qk WHERE term IN ($terms) GROUP BY 1, 2),
       |qct AS (SELECT doc_id, sum(ln(1 + tf * totc / ($QlMu * cf))) AS c,
       |       CAST(count(*) AS BIGINT) AS n_terms
       |       FROM qtf JOIN qcf USING (term) CROSS JOIN qtot GROUP BY doc_id),
       |qs AS (SELECT qdl.doc_id, coalesce(n_terms, 0) AS n_terms,
       |       round(qsc.s - qsc.nq * ln(qdl.dl + $QlMu) + coalesce(c, 0), 6) AS ql
       |       FROM qdl CROSS JOIN qsc
       |       LEFT JOIN qct ON qct.doc_id = qdl.doc_id)""".stripMargin
  }

  private val qlDirichletOracle =
    s"""WITH $qlChain
       |SELECT doc_id, n_terms, ql FROM qs
       |ORDER BY ql DESC, doc_id LIMIT $Bm25TopK""".stripMargin

  private val rankCorrOracle = {
    val miss = Bm25TopK + 1
    s"""WITH $bm25Chain,
       |$qlChain,
       |bml AS (SELECT doc_id, CAST(row_number() OVER (
       |       ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rb FROM s
       |       ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK),
       |qll AS (SELECT doc_id, CAST(row_number() OVER (
       |       ORDER BY ql DESC, doc_id ASC) AS BIGINT) AS rq FROM qs
       |       ORDER BY ql DESC, doc_id LIMIT $Bm25TopK),
       |u AS (SELECT coalesce(b.rb, $miss) AS rb, coalesce(q.rq, $miss) AS rq
       |       FROM bml b FULL OUTER JOIN qll q ON b.doc_id = q.doc_id),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum((rb - rq) * (rb - rq)) AS BIGINT) AS sum_d2 FROM u)
       |SELECT n_docs, sum_d2,
       |       round(1.0 - 6.0 * sum_d2 / (n_docs * (n_docs * n_docs - 1)), 6)
       |         AS spearman_rho
       |FROM agg""".stripMargin
  }

  // Truncated RBO@k: exact integer overlap per depth; only the final
  // weighted sum is FP (6-dp rounded, norm constant interpolated).
  private val rankOverlapOracle = {
    val norm = (1.0 - RboP) / (1.0 - math.pow(RboP, Bm25TopK))
    s"""WITH $bm25Chain,
       |$qlChain,
       |bml AS (SELECT doc_id, CAST(row_number() OVER (
       |       ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS ra FROM s
       |       ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK),
       |qll AS (SELECT doc_id, CAST(row_number() OVER (
       |       ORDER BY ql DESC, doc_id ASC) AS BIGINT) AS rb FROM qs
       |       ORDER BY ql DESC, doc_id LIMIT $Bm25TopK),
       |j AS (SELECT b.ra, q.rb FROM bml b
       |       FULL OUTER JOIN qll q ON b.doc_id = q.doc_id),
       |dg AS (SELECT unnest(range(1, ${Bm25TopK + 1})) AS depth),
       |bd AS (SELECT dg.depth,
       |       sum(CASE WHEN j.ra <= dg.depth AND j.rb <= dg.depth
       |         THEN 1 ELSE 0 END) AS overlap
       |       FROM dg CROSS JOIN j GROUP BY 1),
       |rbo AS (SELECT round($norm *
       |       sum(pow($RboP, depth - 1) * (CAST(overlap AS DOUBLE) / depth)),
       |       6) AS rbo FROM bd)
       |SELECT CAST(bd.depth AS BIGINT) AS depth,
       |  CAST(bd.overlap AS BIGINT) AS overlap,
       |  round(CAST(bd.overlap AS DOUBLE) / bd.depth, 6) AS agreement,
       |  rbo.rbo
       |FROM bd, rbo ORDER BY depth""".stripMargin
  }

  /** RRF fusion of the BM25 chain and the brute-force cosine ranking from
    * vec_id 0 — rank semantics mirror Bm25.topDocs (rounded score desc, id
    * tie-break) and Similarity.bruteForceTopK (rounded cosine desc, id). */
  private val hybridRrfOracle =
    s"""WITH $bm25Chain,
       |lexr AS (SELECT doc_id, lex_rank FROM (
       |       SELECT doc_id, CAST(row_number() OVER (
       |         ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS lex_rank FROM s)
       |       WHERE lex_rank <= $RrfDepth),
       |$embCtes,
       |dots AS (SELECT t.vec_id AS doc_id,
       |       round(sum(q.v * t.v) / (nq.nrm * nt.nrm), 6) AS cs
       |       FROM e q JOIN e t ON t.pos = q.pos AND q.vec_id = 0 AND t.vec_id <> 0
       |       JOIN norms nq ON nq.vec_id = 0
       |       JOIN norms nt ON nt.vec_id = t.vec_id
       |       GROUP BY t.vec_id, nq.nrm, nt.nrm),
       |semr AS (SELECT doc_id, sem_rank FROM (
       |       SELECT doc_id, CAST(row_number() OVER (
       |         ORDER BY cs DESC, doc_id ASC) AS BIGINT) AS sem_rank FROM dots)
       |       WHERE sem_rank <= $RrfDepth),
       |fused AS (SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
       |       l.lex_rank, r.sem_rank,
       |       round(coalesce(1.0 / ($RrfK + l.lex_rank), 0)
       |         + coalesce(1.0 / ($RrfK + r.sem_rank), 0), 6) AS rrf_score
       |       FROM lexr l FULL OUTER JOIN semr r ON l.doc_id = r.doc_id)
       |SELECT doc_id, lex_rank, sem_rank, rrf_score FROM fused
       |ORDER BY rrf_score DESC, doc_id LIMIT $RrfTopK""".stripMargin

  private val matryoshkaRecallOracle = {
    val gtCtes =
      s"""gt_dots AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    sum(q.v * e.v) AS dp
         |  FROM e q JOIN e ON q.pos = e.pos AND q.vec_id <> e.vec_id
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id < $EvalQueryCut GROUP BY 1, 2),
         |gt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(dp / (nq.nrm * nc.nrm), 6) DESC, neighbor_id ASC) AS rank
         |  FROM gt_dots
         |  JOIN norms nq ON nq.vec_id = query_id
         |  JOIN norms nc ON nc.vec_id = neighbor_id) WHERE rank <= 3)""".stripMargin
    val perDim = MatryoshkaDims.map { m =>
      s"""pm$m AS (SELECT vec_id, pos, v FROM e WHERE pos <= $m),
         |nm$m AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM pm$m GROUP BY 1),
         |dt$m AS (SELECT q.vec_id AS query_id, p.vec_id AS neighbor_id,
         |    sum(q.v * p.v) AS dp
         |  FROM pm$m q JOIN pm$m p ON q.pos = p.pos AND q.vec_id <> p.vec_id
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id < $EvalQueryCut GROUP BY 1, 2),
         |rk$m AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY round(dp / (nq.nrm * nc.nrm), 6) DESC, neighbor_id ASC) AS rank
         |  FROM dt$m
         |  JOIN nm$m nq ON nq.vec_id = query_id
         |  JOIN nm$m nc ON nc.vec_id = neighbor_id) WHERE rank <= 3),
         |rec$m AS (SELECT CAST($m AS BIGINT) AS prefix_dims,
         |    CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
         |    round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6) AS recall
         |  FROM gt LEFT JOIN rk$m a
         |    ON gt.query_id = a.query_id AND gt.neighbor_id = a.neighbor_id)""".stripMargin
    }.mkString(",\n")
    val union = MatryoshkaDims.map(m => s"SELECT * FROM rec$m")
      .mkString("\n  UNION ALL ")
    s"""WITH $embCtes,
       |$gtCtes,
       |$perDim
       |$union
       |ORDER BY prefix_dims""".stripMargin
  }

  private val distinctNOracle = {
    val perN = Seq(1, 2, 3).map { n =>
      s"""g$n AS (SELECT source, CAST($n AS BIGINT) AS n,
         |  unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 1) + 1),
         |    i -> array_to_string(t[i:i+${n - 1}], ' '))) AS g FROM td)""".stripMargin
    }.mkString(",\n")
    val union = Seq(1, 2, 3).map(n => s"SELECT * FROM g$n")
      .mkString("\n  UNION ALL ")
    s"""WITH td AS (SELECT source, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
       |$perN,
       |grams AS (
       |  $union)
       |SELECT source, n, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
       |  round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS distinct_ratio
       |FROM grams GROUP BY source, n ORDER BY source, n""".stripMargin
  }

  private val zipfSlopeOracle =
    s"""WITH tok AS (SELECT unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS token FROM documents),
       |tf AS (SELECT token, count(*) AS freq FROM tok WHERE token <> '' GROUP BY token),
       |top AS (SELECT token, freq,
       |    row_number() OVER (ORDER BY freq DESC, token ASC) AS r
       |  FROM tf ORDER BY freq DESC, token ASC LIMIT $ZipfTopN),
       |xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y FROM top),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_top, sum(x) AS sx, sum(y) AS sy,
       |  sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
       |SELECT n_top,
       |  round((n_top * sxy - sx * sy) / (n_top * sxx - sx * sx), 6) AS zipf_slope,
       |  round((sy - ((n_top * sxy - sx * sy) / (n_top * sxx - sx * sx)) * sx)
       |    / n_top, 6) AS zipf_intercept
       |FROM s""".stripMargin

  private val concordanceOracle =
    s"""WITH $toksCte,
       |psh AS (SELECT doc_id, unnest(range(1, greatest(len(t) - ${W - 1}, 1) + 1)) AS i, t
       |  FROM toks),
       |p2 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |  array_to_string(t[i:i+${W - 1}], ' ') AS ph FROM psh),
       |top AS (SELECT ph FROM (SELECT ph, count(*) AS c FROM p2
       |  GROUP BY ph ORDER BY c DESC, ph ASC LIMIT 1)),
       |hits AS (SELECT p2.doc_id, p2.pos, p2.ph FROM p2 JOIN top USING (ph))
       |SELECT h.doc_id, h.pos,
       |  coalesce(array_to_string(t[greatest(h.pos - ${KwicCtx - 1}, 1):h.pos], ' '),
       |    '') AS left_ctx,
       |  h.ph AS phrase,
       |  coalesce(array_to_string(t[h.pos + ${W + 1}:h.pos + ${W + KwicCtx}], ' '),
       |    '') AS right_ctx
       |FROM hits h JOIN toks USING (doc_id)
       |ORDER BY doc_id, pos""".stripMargin

  private val tokenDispersionOracle =
    s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS token
       |  FROM documents),
       |pd AS (SELECT token, doc_id, count(*) AS c FROM tok
       |  WHERE token <> '' GROUP BY 1, 2),
       |pt AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
       |  CAST(sum(c) AS BIGINT) AS total_count, sum(c * c) AS sumsq
       |  FROM pd GROUP BY token),
       |nd AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT token, total_count, df,
       |  round(((sumsq / n_docs) - (total_count / n_docs) * (total_count / n_docs))
       |    / (total_count / n_docs), 6) AS vmr
       |FROM pt CROSS JOIN nd
       |ORDER BY total_count DESC, token ASC LIMIT $DispTopN""".stripMargin

  private val bottomkResemblanceOracle = {
    val eps = (3.0 / math.sqrt(BkK.toDouble)).toString
    s"""WITH $toksCte,
       |${shCte(distinct = false)},
       |$hshCtes,
       |ssh AS (SELECT DISTINCT d.source, h.sh FROM hsh h
       |  JOIN documents d USING (doc_id)),
       |hs AS (SELECT source, sh, sh % $BkMod AS h FROM ssh),
       |sk AS (SELECT source, h FROM (
       |  SELECT source, h, row_number() OVER (
       |    PARTITION BY source ORDER BY h ASC, sh ASC) AS rn FROM hs)
       |  WHERE rn <= $BkK),
       |cnts AS (SELECT source, count(*) AS n FROM ssh GROUP BY source),
       |inter AS (SELECT a.source AS source_a, b.source AS source_b,
       |  count(*) AS n_inter
       |  FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2),
       |exact AS (SELECT source_a, source_b,
       |  CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) AS exact
       |  FROM inter
       |  JOIN cnts na ON na.source = source_a
       |  JOIN cnts nb ON nb.source = source_b),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |prs AS (SELECT a.source AS source_a, b.source AS source_b
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |pr_rows AS (SELECT p.source_a, p.source_b, s.source AS s, s.h
       |  FROM prs p JOIN sk s
       |    ON s.source = p.source_a OR s.source = p.source_b),
       |grp AS (SELECT source_a, source_b, h, count(DISTINCT s) AS ns
       |  FROM pr_rows GROUP BY 1, 2, 3),
       |topu AS (SELECT * FROM (SELECT source_a, source_b, h, ns,
       |    row_number() OVER (PARTITION BY source_a, source_b
       |      ORDER BY h ASC) AS r FROM grp) WHERE r <= $BkK),
       |est AS (SELECT source_a, source_b,
       |  CAST(sum(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS est
       |  FROM topu GROUP BY 1, 2)
       |SELECT e.source_a, e.source_b,
       |  round(e.est, 6) AS est_jaccard,
       |  round(coalesce(x.exact, 0.0), 6) AS exact_jaccard,
       |  abs(e.est - coalesce(x.exact, 0.0)) <= $eps AS within_bound
       |FROM est e LEFT JOIN exact x
       |  ON x.source_a = e.source_a AND x.source_b = e.source_b
       |ORDER BY e.source_a, e.source_b""".stripMargin
  }

  private val bottomkSampleOracle =
    s"""WITH h AS (SELECT source, doc_id,
       |  ('0x' || substring(md5('bk|' || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
       |    % $BottomKMod AS h
       |  FROM documents),
       |r AS (SELECT source, doc_id, h, CAST(row_number() OVER (
       |    PARTITION BY source ORDER BY h ASC, doc_id ASC) AS BIGINT) AS rank
       |  FROM h)
       |SELECT source, doc_id, h AS sample_hash, rank
       |FROM r WHERE rank <= $BottomK ORDER BY source, rank""".stripMargin

  /** Schema-dynamic profile of the documents table — per column, nulls /
    * exact distincts / mean rendered width in ONE scan (unpivoted via
    * `stack`; see [[graft.operators.TableProfile]] for the 100 TB
    * approx-cardinality swap note). */
  def eTableProfile(s: SparkSession, d: String): DataFrame =
    graft.operators.TableProfile(Tables.documents(s, d))

  /** Outlier-robust per-source length stats: mean document length clipped
    * at the exact rank-based [p05, p95] per source — the report that
    * stops a handful of pathological documents from moving a source's
    * quality dial. Percentiles come from the per-source VALUE-COUNT
    * table (window partitions = distinct lengths, domain-bounded), the
    * thresholds broadcast back into a codegen clamp; integer-exact sums
    * throughout ([[graft.operators.Winsorize]]). */
  def eWinsorize(s: SparkSession, d: String): DataFrame =
    graft.operators.Winsorize.stats(
      Tables.documents(s, d), "source", "n_chars",
      pLoNum = 1, pHiNum = 19, pDen = 20) // exact 5% / 95% rank cuts

  val queries: Map[String, Q] = Map(
    "e_table_profile" -> (eTableProfile _),
    "e_winsorize" -> (eWinsorize _),
    "e_dedup_exact" -> (eDedupExact _),
    "e_dedup_minhash_lsh" -> (eDedupMinhash _),
    "e_dedup_unicode" -> (eDedupUnicode _),
    "e_decontam_unicode" -> (eDecontamUnicode _),
    "e_minhash_calibration" -> (eMinhashCalibration _),
    "e_dedup_incremental" -> (eDedupIncremental _),
    "e_cross_source_dup" -> (eCrossSourceDup _),
    "e_doc_novelty" -> (eDocNovelty _),
    "e_dedup_authority" -> (eDedupAuthority _),
    "e_dedup_best" -> (eDedupBest _),
    "e_golden_record" -> (eGoldenRecord _),
    "e_dup_kcore" -> (eDupKcore _),
    "e_dup_triangles" -> (eDupTriangles _),
    "e_label_propagation" -> (eLabelPropagation _),
    "e_dedup_simhash" -> (eDedupSimhash _),
    "e_simhash_pairs" -> (eSimhashPairs _),
    "e_simhash_multitable" -> (eSimhashMultitable _),
    "e_ngram_jaccard" -> (eNgramJaccard _),
    "e_containment_dup" -> (eContainmentDup _),
    "e_edit_verify" -> (eEditVerify _),
    "e_jaro_verify" -> (eJaroVerify _),
    "e_verify_sweep" -> (eVerifySweep _),
    "e_dup_explain" -> (eDupExplain _),
    "e_idf_cosine" -> (eIdfCosine _),
    "e_ql_dirichlet" -> (eQlDirichlet _),
    "e_rank_corr" -> (eRankCorr _),
    "e_rank_overlap" -> (eRankOverlap _),
    "e_sorted_neighborhood" -> (eSortedNeighborhood _),
    "e_phrase_search" -> (ePhraseSearch _),
    "e_source_jaccard" -> (eSourceJaccard _),
    "e_matryoshka_recall" -> (eMatryoshkaRecall _),
    "e_distinct_n" -> (eDistinctN _),
    "e_zipf_slope" -> (eZipfSlope _),
    "e_concordance" -> (eConcordance _),
    "e_token_dispersion" -> (eTokenDispersion _),
    "e_bottomk_sample" -> (eBottomkSample _),
    "e_bottomk_resemblance" -> (eBottomkResemblance _),
    "e_winnow_fingerprints" -> (eWinnowFingerprints _),
    "e_winnow_matches" -> (eWinnowMatches _),
    "e_dsir_weights" -> (eDsirWeights _),
    "e_dsir_ess" -> (eDsirEss _),
    "e_nb_classify" -> (eNbClassify _),
    "e_nb_confusion" -> (eNbConfusion _),
    "e_nb_pr_curve" -> (eNbPrCurve _),
    "e_classifier_kappa" -> (eClassifierKappa _),
    "e_mixture_temperature" -> (eMixtureTemperature _),
    "e_cdc_chunks" -> (eCdcChunks _),
    "e_cdc_dedup" -> (eCdcDedup _),
    "e_suffix_ranks" -> (eSuffixRanks _),
    "e_lcp_repeats" -> (eLcpRepeats _),
    "e_exact_contamination" -> (eExactContamination _),
    "e_cosine_topk" -> (eCosineTopk _),
    "e_random_projection" -> (eRandomProjection _),
    "e_rp_recall" -> (eRpRecall _),
    "e_ann_lsh_topk" -> (eAnnLshTopk _),
    "e_ann_multiprobe" -> (eAnnMultiprobe _),
    "e_ann_recall" -> (eAnnRecall _),
    "e_ann_recall_sweep" -> (eAnnRecallSweep _),
    "e_ivf_topk" -> (eIvfTopk _),
    "e_ivf_balance" -> (eIvfBalance _),
    "e_dedup_apply" -> (eDedupApply _),
    "e_multimodal_frames" -> (eMultimodalFrames _),
    "e_cosine_neardup" -> (eCosineNeardup _),
    "e_mutual_neighbors" -> (eMutualNeighbors _),
    "e_source_centroids" -> (eSourceCentroids _),
    "e_prefix_join" -> (ePrefixJoin _),
    "e_gopher_rules" -> (eGopherRules _),
    "e_text_entropy" -> (eTextEntropy _),
    "e_simhash_wide" -> (eSimhashWide _),
    "e_lang_confusion" -> (eLangConfusion _),
    "e_skew_report" -> (eSkewReport _),
    "e_bbit_minhash" -> (eBbitMinhash _),
    "e_dedup_impact" -> (eDedupImpact _),
    "e_lsh_recall" -> (eLshRecall _),
    "e_lsh_recall_sweep" -> (eLshRecallSweep _),
    "e_bpe_fertility" -> (eBpeFertility _),
    "e_dedup_curve" -> (eDedupCurve _),
    "e_cc_sizes" -> (eCcSizes _),
    "e_cluster_density" -> (eClusterDensity _),
    "e_decontam_sweep" -> (eDecontamSweep _),
    "e_elbow_curve" -> (eElbowCurve _),
    "e_text_langid" -> (eTextLangid _),
    "e_langid_margin" -> (eLangidMargin _),
    "e_code_switch" -> (eCodeSwitch _),
    "e_vocab_growth" -> (eVocabGrowth _),
    "e_oov_rate" -> (eOovRate _),
    "e_dist_drift" -> (eDistDrift _),
    "e_text_quality" -> (eTextQuality _),
    "e_quality_cut" -> (eQualityCut _),
    "e_token_count" -> (eTokenCount _),
    "e_readability" -> (eReadability _),
    "e_script_profile" -> (eScriptProfile _),
    "e_blockword_gate" -> (eBlockwordGate _),
    "e_luhn_pii" -> (eLuhnPii _),
    "e_corpus_diff" -> (eCorpusDiff _),
    "e_snapshot_asof" -> (eSnapshotAsof _),
    "e_snapshot_catalog" -> (eSnapshotCatalog _),
    "e_snapshot_skipping" -> (eSnapshotSkipping _),
    "e_snapshot_partitioned" -> (eSnapshotPartitioned _),
    "e_snapshot_sql_dml" -> (eSnapshotSqlDml _),
    "e_snapshot_sql_update" -> (eSnapshotSqlUpdate _),
    "e_snapshot_sql_insert" -> (eSnapshotSqlInsert _),
    "e_snapshot_maintenance" -> (eSnapshotMaintenance _),
    "e_snapshot_decimal_skip" -> (eSnapshotDecimalSkip _),
    "e_snapshot_point_skip" -> (eSnapshotPointSkip _),
    "e_snapshot_dv" -> (eSnapshotDv _),
    "e_snapshot_dv_update" -> (eSnapshotDvUpdate _),
    "e_snapshot_ddl" -> (eSnapshotDdl _),
    "e_snapshot_tblprops" -> (eSnapshotTblProps _),
    "e_snapshot_widen" -> (eSnapshotWiden _),
    "e_snapshot_ckpt" -> (eSnapshotCkpt _),
    "e_snapshot_optimize_where" -> (eSnapshotOptimizeWhere _),
    "e_snapshot_sql_verbs" -> (eSnapshotSqlVerbs _),
    "e_snapshot_zorder_scoped" -> (eSnapshotZorderScoped _),
    "e_snapshot_table_changes" -> (eSnapshotTableChanges _),
    "e_snapshot_generated" -> (eSnapshotGenerated _),
    "e_snapshot_identity" -> (eSnapshotIdentity _),
    "e_snapshot_rename" -> (eSnapshotRename _),
    "e_snapshot_drop_column" -> (eSnapshotDropColumn _),
    "e_snapshot_convert" -> (eSnapshotConvert _),
    "e_snapshot_restore" -> (eSnapshotRestore _),
    "e_snapshot_clone" -> (eSnapshotClone _),
    "e_snapshot_time_travel" -> (eSnapshotTimeTravel _),
    "e_snapshot_changes" -> (eSnapshotChanges _),
    "e_snapshot_merge" -> (eSnapshotMerge _),
    "e_snapshot_delete" -> (eSnapshotDelete _),
    "e_snapshot_evolve" -> (eSnapshotEvolve _),
    "e_snapshot_gated" -> (eSnapshotGated _),
    "e_snapshot_history" -> (eSnapshotHistory _),
    "e_snapshot_cdf" -> (eSnapshotCdf _),
    "e_snapshot_source" -> (eSnapshotSource _),
    "e_embedding_drift" -> (eEmbeddingDrift _),
    "e_linkage_weights" -> (eLinkageWeights _),
    "e_span_corruption" -> (eSpanCorruption _),
    "e_label_errors" -> (eLabelErrors _),
    "e_conformal_coverage" -> (eConformalCoverage _),
    "e_calibration_ece" -> (eCalibrationEce _),
    "e_lsh_planner" -> (eLshPlanner _),
    "e_retrieval_mrr" -> (eRetrievalMrr _),
    "e_skew_advisor" -> (eSkewAdvisor _),
    "e_bootstrap_ci" -> (eBootstrapCi _),
    "e_ks_drift" -> (eKsDrift _),
    "e_expectations" -> (eExpectations _),
    "e_chi2_independence" -> (eChi2Independence _),
    "e_bpe_merges" -> (eBpeMerges _),
    "e_bpe_encode" -> (eBpeEncode _),
    "e_fingerprint" -> (eFingerprint _),
    "e_dedup_clusters" -> (eDedupClusters _),
    "e_connected_components" -> (eConnectedComponents _),
    "e_cc_incremental" -> (eCcIncremental _),
    "e_embed_quantize" -> (eEmbedQuantize _),
    "e_approx_percentile" -> (eApproxPercentile _),
    "e_tfidf" -> (eTfidf _),
    "e_stratified_sample" -> (eStratifiedSample _),
    "e_corpus_shuffle" -> (eCorpusShuffle _),
    "e_shuffle_quality" -> (eShuffleQuality _),
    "e_curriculum_order" -> (eCurriculumOrder _),
    "e_multimodal_meta" -> (eMultimodalMeta _),
    "e_phash_neardup" -> (ePhashNeardup _),
    "e_audio_neardup" -> (eAudioNeardup _),
    "e_video_neardup" -> (eVideoNeardup _),
    "e_phash_clusters" -> (ePhashClusters _),
    "e_repetition_filter" -> (eRepetitionFilter _),
    "e_source_scorecard" -> (eSourceScorecard _),
    "e_domain_filter" -> (eDomainFilter _),
    "e_host_scorecard" -> (eHostScorecard _),
    "e_psl_domains" -> (ePslDomains _),
    "e_host_dup_weight" -> (eHostDupWeight _),
    "e_html_strip" -> (eHtmlStrip _),
    "e_url_canonical" -> (eUrlCanonical _),
    "e_length_buckets" -> (eLengthBuckets _),
    "e_knn_accuracy" -> (eKnnAccuracy _),
    "e_decontam" -> (eDecontam _),
    "e_pack_sequences" -> (ePackSequences _),
    "e_pii_redact" -> (ePiiRedact _),
    "e_leakage_split" -> (eLeakageSplit _),
    "e_mixture_sample" -> (eMixtureSample _),
    "e_bloom_dedup" -> (eBloomDedup _),
    "e_passage_dedup" -> (ePassageDedup _),
    "e_boilerplate_lines" -> (eBoilerplateLines _),
    "e_kmeans" -> (eKmeans _),
    "e_kmeans_silhouette" -> (eKmeansSilhouette _),
    "e_crossmodal_align" -> (eCrossmodalAlign _),
    "e_embed_outliers" -> (eEmbedOutliers _),
    "e_chunk_overlap" -> (eChunkOverlap _),
    "e_span_dedup_apply" -> (eSpanDedupApply _),
    "e_semantic_dedup" -> (eSemanticDedup _),
    "e_cluster_sample" -> (eClusterSample _),
    "e_top_quality_docs" -> (eTopQualityDocs _),
    "e_curation_funnel" -> (eCurationFunnel _),
    "e_vocabulary" -> (eVocabulary _),
    "e_vocab_coverage" -> (eVocabCoverage _),
    "e_vocabulary_unicode" -> (eVocabularyUnicode _),
    "e_token_unicode" -> (eTokenUnicode _),
    "e_heavy_hitters" -> (eHeavyHitters _),
    "e_pq_encode" -> (ePqEncode _),
    "e_pq_adc_topk" -> (ePqAdcTopk _),
    "e_ivfpq_rerank" -> (eIvfPqRerank _),
    "e_retrieval_ndcg" -> (eRetrievalNdcg _),
    "e_ivfpq_topk" -> (eIvfPqTopk _),
    "e_ivfpq_residual" -> (eIvfPqResidual _),
    "e_hard_negatives" -> (eHardNegatives _),
    "e_bm25" -> (eBm25 _),
    "e_hybrid_rrf" -> (eHybridRrf _),
    "e_weighted_sample" -> (eWeightedSample _),
    "e_lm_perplexity" -> (eLmPerplexity _),
    "e_lm_kneser_ney" -> (eLmKneserNey _),
    "e_lm_prune" -> (eLmPrune _),
    "e_lm_prune_stats" -> (eLmPruneStats _),
    "e_lm_perplexity2" -> (eLmPerplexity2 _),
    "e_lm_tail_cut" -> (eLmTailCut _),
    "e_collocations" -> (eCollocations _),
    "e_hilbert_key" -> (eHilbertKey _),
    "e_zorder_key" -> (eZorderKey _),
    "e_interval_join" -> (eIntervalJoin _),
    "e_dataset_card" -> (eDatasetCard _),
    "e_quantile_sketch" -> (eQuantileSketch _),
  )

  // Shared CTE block of the interpolated-bigram LM oracles: token stream
  // with raw predecessors, unigram/bigram tables, model scalars, per-doc
  // scores — generated from the SAME constants as the Spark code (λ and
  // 1−λ rendered from the Scala doubles for bit-identical arithmetic).
  private lazy val lmInterpCtes: String = {
    val lam = LmLambda.toString
    val oneMinusLam = (1.0 - LmLambda).toString
    val a = LmAlpha.toString
    s"""tk0 AS (SELECT doc_id, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
      |tok AS (SELECT doc_id, t[i] AS w,
      |        CASE WHEN i > 1 THEN t[i - 1] ELSE '' END AS prev
      |        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk0)
      |        WHERE t[i] <> ''),
      |tku AS (SELECT unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS term FROM documents),
      |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tku
      |        WHERE term <> '' GROUP BY term),
      |st AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tokens,
      |        CAST(count(*) AS DOUBLE) AS v_types FROM uni),
      |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2
      |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk0)
      |       WHERE t[i] <> '' AND t[i + 1] <> ''),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
      |sc AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
      |       -sum(CASE WHEN tok.prev = ''
      |          THEN ln((CAST(uw.c AS DOUBLE) + $a)
      |            / (st.n_tokens + $a * (st.v_types + 1.0)))
      |          ELSE ln($lam * (CAST(COALESCE(bc.c12, 0) AS DOUBLE) + $a)
      |              / (CAST(COALESCE(up.c, 0) AS DOUBLE) + $a * (st.v_types + 1.0))
      |            + $oneMinusLam * (CAST(uw.c AS DOUBLE) + $a)
      |              / (st.n_tokens + $a * (st.v_types + 1.0)))
      |          END) / count(*) AS h
      |       FROM tok JOIN uni uw ON tok.w = uw.term
      |       LEFT JOIN uni up ON tok.prev = up.term
      |       LEFT JOIN bc ON bc.w1 = tok.prev AND bc.w2 = tok.w
      |       CROSS JOIN st
      |       GROUP BY tok.doc_id)""".stripMargin
  }

  // Shared loss CTE of the pruning oracles: bigram/unigram tables + the
  // per-entry keep-vs-backoff likelihood loss, parenthesized to mirror the
  // Spark arithmetic term-for-term (quotients formed before the λ
  // weights, matching bigramPruneLoss's column expression).
  private lazy val lmPruneLossCtes: String = {
    val lam = LmLambda.toString
    val oneMinusLam = (1.0 - LmLambda).toString
    val a = LmAlpha.toString
    s"""tk0 AS (SELECT doc_id, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
      |tku AS (SELECT unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS term FROM documents),
      |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tku
      |        WHERE term <> '' GROUP BY term),
      |st AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tokens,
      |        CAST(count(*) AS DOUBLE) AS v_types FROM uni),
      |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2
      |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk0)
      |       WHERE t[i] <> '' AND t[i + 1] <> ''),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
      |ls AS (SELECT bc.w1, bc.w2, bc.c12,
      |    (CAST(bc.c12 AS DOUBLE) / st.n_tokens) * ln(
      |      ($lam * ((CAST(bc.c12 AS DOUBLE) + $a)
      |          / (CAST(u1.c AS DOUBLE) + $a * (st.v_types + 1.0)))
      |       + $oneMinusLam * ((CAST(u2.c AS DOUBLE) + $a)
      |          / (st.n_tokens + $a * (st.v_types + 1.0))))
      |      /
      |      ($lam * ($a / (CAST(u1.c AS DOUBLE) + $a * (st.v_types + 1.0)))
      |       + $oneMinusLam * ((CAST(u2.c AS DOUBLE) + $a)
      |          / (st.n_tokens + $a * (st.v_types + 1.0))))) AS loss
      |  FROM bc JOIN uni u1 ON bc.w1 = u1.term
      |  JOIN uni u2 ON bc.w2 = u2.term CROSS JOIN st)""".stripMargin
  }

  private val collocationsOracle =
    """WITH tk AS (SELECT doc_id, regexp_extract_all(text, '[\p{L}\p{N}]+') AS t FROM documents),
      |pos AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk),
      |bi0 AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM pos),
      |bi AS (SELECT w1, w2 FROM bi0 WHERE w1 <> '' AND w2 <> ''),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
      |toku AS (SELECT unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS term FROM documents),
      |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toku
      |       WHERE term <> '' GROUP BY term),
      |nu AS (SELECT CAST(sum(c) AS DOUBLE) AS nu FROM uni),
      |nb AS (SELECT CAST(sum(c12) AS DOUBLE) AS nb FROM bc),
      |p AS (SELECT bc.w1, bc.w2, bc.c12,
      |       round(ln((CAST(bc.c12 AS DOUBLE) / nb.nb)
      |         / ((CAST(u1.c AS DOUBLE) / nu.nu) * (CAST(u2.c AS DOUBLE) / nu.nu))), 6) AS pmi
      |       FROM bc JOIN uni u1 ON bc.w1 = u1.term
      |       JOIN uni u2 ON bc.w2 = u2.term
      |       CROSS JOIN nu CROSS JOIN nb
      |       WHERE bc.c12 >= 10)
      |SELECT w1, w2, c12, pmi FROM p
      |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin

  val oracle: Map[String, String] = Map(
    "e_table_profile" -> {
      val per = Seq("doc_id", "lang", "n_chars", "source", "text").map { c =>
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  round(avg(length(CAST($c AS VARCHAR))), 6) AS avg_len
           |FROM documents""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT * FROM (
         |$per
         |) ORDER BY column_name""".stripMargin
    },
    "e_winsorize" ->
      """WITH vc AS (SELECT source, n_chars AS v, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, sum(cnt) AS n FROM vc GROUP BY 1),
        |run AS (SELECT vc.source, v, cnt, n,
        |    sum(cnt) OVER (PARTITION BY vc.source ORDER BY v) AS cum
        |  FROM vc JOIN tot USING (source)),
        |loc AS (SELECT source, min(v) AS lo FROM run
        |  WHERE cum * 20 >= 1 * n GROUP BY source),
        |hic AS (SELECT source, min(v) AS hi FROM run
        |  WHERE cum * 20 >= 19 * n GROUP BY source)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_rows, lo, hi,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_raw,
        |  round(CAST(sum(least(greatest(n_chars, lo), hi)) AS DOUBLE)
        |    / count(*), 6) AS mean_winsor
        |FROM documents d JOIN loc USING (source) JOIN hic USING (source)
        |GROUP BY d.source, lo, hi ORDER BY source""".stripMargin,
    "e_dedup_exact" ->
      """SELECT md5(trim(lower(text))) AS content_hash,
        |       min(doc_id) AS survivor_id,
        |       CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY content_hash ORDER BY content_hash""".stripMargin,
    "e_dedup_minhash_lsh" -> minhashOracle,
    "e_dedup_unicode" -> minhashOracleSql(toks = toksCteUnicode),
    "e_decontam_unicode" ->
      s"""WITH $toksCteUnicode,
         |${shCte(distinct = false)},
         |$hshCtes,
         |bench AS (SELECT DISTINCT sh FROM hsh WHERE doc_id % 97 = 0)
         |SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM hsh h JOIN bench b ON h.sh = b.sh
         |WHERE h.doc_id % 97 <> 0
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "e_minhash_calibration" -> minhashCalibrationOracle,
    "e_dedup_incremental" ->
      minhashOracleSql("(p.doc_a % 10 = 0 OR p.doc_b % 10 = 0)"),
    "e_dup_triangles" ->
      s"""WITH $nearDupGraphCtes,
         |dg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM
         |  (SELECT doc_a AS doc_id FROM est UNION ALL SELECT doc_b FROM est)
         |  GROUP BY doc_id),
         |wd AS (SELECT est.doc_a AS u, est.doc_b AS v,
         |    du.degree AS du, dv.degree AS dv
         |  FROM est JOIN dg du ON du.doc_id = est.doc_a
         |  JOIN dg dv ON dv.doc_id = est.doc_b),
         |orient AS (SELECT
         |    CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
         |    CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst
         |  FROM wd),
         |wedge AS (SELECT o1.src, o1.dst AS a, o2.dst AS b
         |  FROM orient o1 JOIN orient o2 ON o1.src = o2.src AND o1.dst < o2.dst),
         |tri AS (SELECT w.src, w.a, w.b FROM wedge w
         |  JOIN est ON est.doc_a = w.a AND est.doc_b = w.b),
         |pnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM
         |  (SELECT src AS doc_id FROM tri UNION ALL SELECT a FROM tri
         |   UNION ALL SELECT b FROM tri) GROUP BY doc_id)
         |SELECT dg.doc_id, dg.degree,
         |  CAST(COALESCE(pnt.n_triangles, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN dg.degree >= 2
         |    THEN round(2.0 * COALESCE(pnt.n_triangles, 0)
         |      / (dg.degree * (dg.degree - 1)), 6)
         |    ELSE 0.0 END AS clustering
         |FROM dg LEFT JOIN pnt USING (doc_id) ORDER BY doc_id""".stripMargin,
    "e_label_propagation" -> {
      // unrolled synchronous rounds; each references its predecessor —
      // MATERIALIZED stops DuckDB re-inlining the minhash chain per round
      val rounds = (1 to LpaRounds).map { r =>
        s"""l$r AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl, count(*) AS c FROM (
           |    SELECT e.s AS id, p.lbl AS lbl
           |    FROM ed e JOIN l${r - 1} p ON p.id = e.t
           |    UNION ALL SELECT id, lbl FROM l${r - 1})
           |  GROUP BY 1, 2)
           |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $nearDupGraphCtes,
         |ed AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM est
         |       UNION ALL SELECT doc_b, doc_a FROM est),
         |l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS lbl FROM ed),
         |$rounds,
         |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_members
         |  FROM l$LpaRounds GROUP BY lbl)
         |SELECT l.id AS doc_id, l.lbl AS community, sz.n_members
         |FROM l$LpaRounds l JOIN sz USING (lbl) ORDER BY doc_id""".stripMargin
    },
    "e_dup_kcore" -> {
      // every peel references its predecessor three times — MATERIALIZED
      // stops DuckDB inlining the whole minhash chain 3^rounds times
      val peels = (1 to KcoreRounds).map { r =>
        s"""bad$r AS MATERIALIZED (SELECT s FROM (SELECT s, count(*) AS d
           |  FROM ed${r - 1} GROUP BY s) WHERE d < $KcoreK),
           |ed$r AS MATERIALIZED (SELECT s, t FROM ed${r - 1}
           |  WHERE s NOT IN (SELECT s FROM bad$r)
           |    AND t NOT IN (SELECT s FROM bad$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH $nearDupGraphCtes,
         |ed0 AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM est
         |        UNION ALL SELECT doc_b, doc_a FROM est),
         |$peels
         |SELECT s AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM ed$KcoreRounds GROUP BY s ORDER BY doc_id""".stripMargin
    },
    "e_dedup_authority" -> {
      val matchSum = (0 until K)
        .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      val iters = (1 to 3).map { r =>
        s"""r$r AS (SELECT nd.id, round((1.0 - 0.85) / nn.n + 0.85 * coalesce(f.inflow, 0), 6) AS r
           |  FROM nodes nd CROSS JOIN nn
           |  LEFT JOIN (SELECT ed.dst AS id, sum(rp.r / deg.d) AS inflow
           |    FROM ed JOIN r${r - 1} rp ON ed.src = rp.id
           |    JOIN deg ON ed.src = deg.src
           |    GROUP BY ed.dst) f ON f.id = nd.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $toksCte,
         |${shCte(distinct = false)},
         |$sigsCte,
         |$bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |est AS (SELECT p.doc_a, p.doc_b FROM pairs p
         |  JOIN sigs sa ON p.doc_a = sa.doc_id
         |  JOIN sigs sb ON p.doc_b = sb.doc_id
         |  WHERE ($matchSum) / $K.0 >= 0.5),
         |ed AS (SELECT doc_a AS src, doc_b AS dst FROM est
         |       UNION ALL SELECT doc_b, doc_a FROM est),
         |nodes AS (SELECT DISTINCT src AS id FROM ed),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM ed GROUP BY src),
         |r0 AS (SELECT id, round(1.0 / nn.n, 6) AS r FROM nodes CROSS JOIN nn),
         |$iters
         |SELECT id AS doc_id, r AS rank FROM r3 ORDER BY doc_id""".stripMargin
    },
    "e_doc_novelty" ->
      s"""WITH $toksCte,
         |${shCte(distinct = false)},
         |$hshCtes,
         |dfc AS (SELECT sh, count(*) AS df FROM hsh GROUP BY sh)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(*) FILTER (WHERE df >= 3) AS BIGINT) AS n_common,
         |  round(1.0 - count(*) FILTER (WHERE df >= 3)
         |    / CAST(count(*) AS DOUBLE), 6) AS novelty
         |FROM hsh JOIN dfc USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e_cross_source_dup" -> {
      val matchSum = (0 until K)
        .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $toksCte,
         |${shCte(distinct = false)},
         |$sigsCte,
         |$bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |est AS (SELECT p.doc_a, p.doc_b, ($matchSum) / $K.0 AS ej
         |  FROM pairs p
         |  JOIN sigs sa ON p.doc_a = sa.doc_id
         |  JOIN sigs sb ON p.doc_b = sb.doc_id),
         |x AS (SELECT least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b
         |  FROM est
         |  JOIN documents da ON est.doc_a = da.doc_id
         |  JOIN documents db ON est.doc_b = db.doc_id
         |  WHERE ej >= 0.5)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "e_dedup_clusters" -> clustersOracle,
    "e_dedup_best" ->
      s"""$clustersCte,
        |q AS (SELECT doc_id, $qualityScoreSql AS quality
        |      FROM (SELECT d.*, t FROM documents d, toks
        |            WHERE d.doc_id = toks.doc_id)),
        |m AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
        |      FROM l3 GROUP BY 1),
        |best AS (SELECT l3.cluster_id, l3.doc_id, q.quality,
        |         row_number() OVER (PARTITION BY l3.cluster_id
        |           ORDER BY q.quality DESC, l3.doc_id ASC) AS rn
        |         FROM l3 JOIN q USING (doc_id))
        |SELECT b.cluster_id, m.n_members, b.doc_id AS best_doc,
        |       b.quality AS best_quality
        |FROM best b JOIN m ON m.cluster_id = b.cluster_id
        |WHERE b.rn = 1 AND m.n_members >= 2 ORDER BY b.cluster_id""".stripMargin,
    "e_golden_record" ->
      s"""$clustersCte,
        |q AS (SELECT doc_id, $qualityScoreSql AS quality
        |      FROM (SELECT d.*, t FROM documents d, toks
        |            WHERE d.doc_id = toks.doc_id)),
        |m AS (SELECT l3.cluster_id, l3.doc_id, d.lang, d.source, d.n_chars,
        |        q.quality
        |      FROM l3 JOIN documents d USING (doc_id) JOIN q USING (doc_id)),
        |lm AS (SELECT cluster_id, lang AS lang_majority FROM (
        |    SELECT cluster_id, lang, count(*) AS c,
        |      row_number() OVER (PARTITION BY cluster_id
        |        ORDER BY count(*) DESC, lang) AS rn
        |    FROM m GROUP BY cluster_id, lang) WHERE rn = 1),
        |g AS (SELECT cluster_id, doc_id AS golden_doc FROM (
        |    SELECT cluster_id, doc_id,
        |      row_number() OVER (PARTITION BY cluster_id
        |        ORDER BY quality DESC, doc_id) AS rn
        |    FROM m) WHERE rn = 1),
        |agg AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |    max(n_chars) AS max_n_chars,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |  FROM m GROUP BY cluster_id)
        |SELECT a.cluster_id, a.n_members, g.golden_doc, lm.lang_majority,
        |  a.max_n_chars, a.n_sources
        |FROM agg a JOIN g USING (cluster_id) JOIN lm USING (cluster_id)
        |WHERE a.n_members >= 2 ORDER BY a.cluster_id""".stripMargin,
    "e_connected_components" -> connectedComponentsOracle,
    // the incremental path must land on the SAME fixpoint as batch CC over
    // the full pair graph — identical oracle by construction
    "e_cc_incremental" -> connectedComponentsOracle,
    "e_leakage_split" -> leakageSplitOracle,
    "e_mixture_sample" -> mixtureSampleOracle,
    "e_bloom_dedup" ->
      """SELECT n.doc_id, n.lang FROM documents n
        |WHERE n.doc_id % 10 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |    WHERE c.doc_id % 10 <> 0
        |      AND trim(lower(c.text)) = trim(lower(n.text)))
        |ORDER BY doc_id""".stripMargin,
    "e_kmeans" ->
      s"""WITH $kmeansCte
        |SELECT vec_id, cid AS cluster_id, round(d2, 6) AS dist2
        |FROM a2 WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "e_kmeans_silhouette" ->
      s"""WITH $kmeansCte,
        |asg AS (SELECT vec_id, cid FROM a2 WHERE rn = 1),
        |c2 AS (SELECT asg.cid, e.pos, avg(e.v) AS v
        |       FROM asg JOIN e ON e.vec_id = asg.vec_id GROUP BY 1, 2),
        |dall AS (SELECT e.vec_id, c2.cid, sum((e.v - c2.v) * (e.v - c2.v)) AS d2
        |         FROM e JOIN c2 ON e.pos = c2.pos GROUP BY 1, 2),
        |ab AS (SELECT asg.vec_id, asg.cid,
        |       sqrt(greatest(max(CASE WHEN dall.cid = asg.cid THEN dall.d2 END), 0.0)) AS a,
        |       sqrt(greatest(min(CASE WHEN dall.cid <> asg.cid THEN dall.d2 END), 0.0)) AS b
        |       FROM asg JOIN dall ON dall.vec_id = asg.vec_id GROUP BY 1, 2)
        |SELECT vec_id, cid AS cluster_id, round(a, 6) AS a_dist,
        |       round(b, 6) AS b_dist,
        |       round(CASE WHEN greatest(a, b) > 0
        |         THEN (b - a) / greatest(a, b) ELSE 0.0 END, 6) AS silhouette
        |FROM ab ORDER BY vec_id""".stripMargin,
    "e_embed_outliers" ->
      s"""WITH $kmeansCte,
        |ass AS (SELECT vec_id, cid, d2 FROM a2 WHERE rn = 1),
        |st AS (SELECT cid, avg(d2) AS mu, stddev_pop(d2) AS sigma
        |  FROM ass GROUP BY cid)
        |SELECT vec_id, cid AS cluster_id, round(d2, 6) AS dist2,
        |  round(CASE WHEN sigma > 0 THEN (d2 - mu) / sigma ELSE 0 END, 6) AS z_score,
        |  CAST(CASE WHEN sigma > 0 AND (d2 - mu) / sigma >= $EmbedOutlierZ
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
        |FROM ass JOIN st USING (cid) ORDER BY vec_id""".stripMargin,
    "e_semantic_dedup" -> semanticDedupOracle,
    "e_embedding_drift" -> embeddingDriftOracle,
    "e_linkage_weights" -> linkageWeightsOracle,
    "e_span_corruption" -> spanCorruptionOracle,
    "e_label_errors" -> labelErrorsOracle,
    "e_conformal_coverage" -> conformalCoverageOracle,
    "e_calibration_ece" -> calibrationEceOracle,
    "e_lsh_planner" -> {
      val combos = (for {
        k <- LshPlanBudgets; r <- 1 to k if k % r == 0
      } yield s"($k, $r, ${k / r})").mkString(", ")
      val grid = LshPlanGrid.mkString(", ")
      s"""WITH c(k_hashes, rows_per_band, bands) AS (VALUES $combos),
         |g AS (SELECT unnest([$grid]) AS t),
         |e AS (SELECT c.*, g.t FROM c CROSS JOIN g)
         |SELECT CAST(k_hashes AS BIGINT) AS k_hashes,
         |  CAST(rows_per_band AS BIGINT) AS rows_per_band,
         |  CAST(bands AS BIGINT) AS bands, t,
         |  round(1.0 - pow(1.0 - pow(t, rows_per_band), bands), 6)
         |    AS p_detect,
         |  round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS midpoint,
         |  round(abs(pow(1.0 / bands, 1.0 / rows_per_band)
         |    - $LshPlanTarget), 6) AS target_gap
         |FROM e ORDER BY k_hashes, rows_per_band, t""".stripMargin
    },
    "e_bootstrap_ci" -> {
      val cdfArms = graft.operators.Bootstrap.PoissonCdf.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
      val cap = graft.operators.Bootstrap.PoissonCdf.length
      val m = graft.operators.Bootstrap.UMod
      s"""WITH v AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |  CAST(len(str_split(trim(text), ' ')) AS BIGINT) AS v
         |  FROM documents),
         |rep AS (SELECT id, v, r.range AS b FROM v
         |  CROSS JOIN range($BootReplicas) r),
         |uu AS (SELECT id, v, b,
         |  (('0x' || substring(md5('bs|' || id || '|' || CAST(b AS VARCHAR)),
         |    1, 14))::BIGINT % $m) / $m.0 AS u FROM rep),
         |w AS (SELECT b, v, CASE $cdfArms ELSE $cap END AS w FROM uu),
         |mr AS (SELECT b, CAST(sum(w * v) AS DOUBLE) / sum(w) AS m FROM w
         |  GROUP BY b HAVING sum(w) > 0),
         |r AS (SELECT b, m, row_number() OVER (ORDER BY m ASC, b ASC)
         |  AS rn FROM mr),
         |pt AS (SELECT count(*) AS n_docs, avg(v) AS mean FROM v)
         |SELECT CAST(pt.n_docs AS BIGINT) AS n_docs,
         |  CAST($BootReplicas AS BIGINT) AS n_replicas,
         |  round(pt.mean, 6) AS mean,
         |  round((SELECT m FROM r WHERE rn = $BootLoRank), 6) AS ci_lo,
         |  round((SELECT m FROM r WHERE rn = $BootHiRank), 6) AS ci_hi
         |FROM pt""".stripMargin
    },
    "e_expectations" ->
      """WITH rowr AS (SELECT
        |  sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v_nn_text,
        |  sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS v_nn_lang,
        |  sum(CASE WHEN lang IS NOT NULL AND lang NOT IN
        |    ('en', 'es', 'de', 'fr', 'zh') THEN 1 ELSE 0 END) AS v_set_lang,
        |  sum(CASE WHEN n_chars IS NOT NULL
        |    AND (n_chars < 1 OR n_chars > 10000) THEN 1 ELSE 0 END)
        |    AS v_rng_chars,
        |  sum(CASE WHEN source IS NOT NULL
        |    AND NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END)
        |    AS v_re_source,
        |  count(*) AS n FROM documents),
        |uq AS (SELECT count(*) - count(DISTINCT doc_id) AS v,
        |  count(*) AS n FROM documents),
        |allr AS (
        |  SELECT 'not_null' AS rule, 'text' AS target, v_nn_text AS v, n
        |    FROM rowr
        |  UNION ALL SELECT 'not_null', 'lang', v_nn_lang, n FROM rowr
        |  UNION ALL SELECT 'in_set', 'lang', v_set_lang, n FROM rowr
        |  UNION ALL SELECT 'in_range', 'n_chars', v_rng_chars, n FROM rowr
        |  UNION ALL SELECT 'matches', 'source', v_re_source, n FROM rowr
        |  UNION ALL SELECT 'unique', 'doc_id', v, n FROM uq)
        |SELECT rule, target, CAST(v AS BIGINT) AS n_violations,
        |  CAST(n AS BIGINT) AS n_rows, v = 0 AS pass
        |FROM allr ORDER BY rule, target""".stripMargin,
    "e_ks_drift" -> {
      val k = graft.operators.StatTests.KsAlpha05
      s"""WITH vv AS (SELECT doc_id % 2 = 0 AS a,
         |  CAST(len(str_split(trim(text), ' ')) AS BIGINT) AS v
         |  FROM documents),
         |c AS (SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END) AS c1,
         |  sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS c2 FROM vv GROUP BY 1),
         |cum AS (SELECT v,
         |  sum(c1) OVER (ORDER BY v ASC ROWS UNBOUNDED PRECEDING) AS k1,
         |  sum(c2) OVER (ORDER BY v ASC ROWS UNBOUNDED PRECEDING) AS k2
         |  FROM c),
         |t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c),
         |dd AS (SELECT max(abs(CAST(k1 AS DOUBLE) / t.n1
         |    - CAST(k2 AS DOUBLE) / t.n2)) AS dmax,
         |  min(t.n1) AS n1, min(t.n2) AS n2 FROM cum, t)
         |SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
         |  round(dmax, 6) AS ks_d,
         |  round($k * sqrt(CAST(n1 + n2 AS DOUBLE)
         |    / (CAST(n1 AS DOUBLE) * n2)), 6) AS ks_crit,
         |  dmax > $k * sqrt(CAST(n1 + n2 AS DOUBLE)
         |    / (CAST(n1 AS DOUBLE) * n2)) AS reject
         |FROM dd""".stripMargin
    },
    "e_chi2_independence" ->
      """WITH obs AS (SELECT lang AS a, source AS b, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) AS ra FROM obs GROUP BY 1),
        |rb AS (SELECT b, sum(o) AS rb FROM obs GROUP BY 1),
        |nn AS (SELECT sum(o) AS n FROM obs),
        |grid AS (SELECT coalesce(obs.o, 0) AS o,
        |  CAST(ra.ra AS DOUBLE) * rb.rb / nn.n AS e, nn.n AS n
        |  FROM ra CROSS JOIN rb CROSS JOIN nn
        |  LEFT JOIN obs ON obs.a IS NOT DISTINCT FROM ra.a
        |    AND obs.b IS NOT DISTINCT FROM rb.b),
        |dims AS (SELECT (SELECT count(*) FROM ra) AS na,
        |  (SELECT count(*) FROM rb) AS nb)
        |SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
        |  CAST((dims.na - 1) * (dims.nb - 1) AS BIGINT) AS dof,
        |  CAST(min(grid.n) AS BIGINT) AS n
        |FROM grid, dims GROUP BY dims.na, dims.nb""".stripMargin,
    "e_skew_advisor" ->
      """WITH c AS (SELECT o_custkey AS key, count(*) AS cnt FROM orders
        |  GROUP BY 1),
        |s AS (SELECT count(*) AS n_keys, sum(cnt) AS total FROM c),
        |h AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 10)
        |SELECT h.key AS o_custkey, CAST(h.cnt AS BIGINT) AS cnt,
        |  round(CAST(h.cnt AS DOUBLE) * s.n_keys / s.total, 6) AS skew_ratio,
        |  CAST(greatest(1, ceil(CAST(h.cnt AS DOUBLE) * s.n_keys / s.total))
        |    AS BIGINT) AS rec_salts
        |FROM h, s ORDER BY cnt DESC, o_custkey ASC""".stripMargin,
    "e_crossmodal_align" ->
      s"""WITH $kmeansCte,
         |asg AS (SELECT vec_id, cid FROM a2 WHERE rn = 1),
         |vnorms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
         |p AS (SELECT vec_id AS pair_id, vec_id AS text_id,
         |    CASE WHEN vec_id % 11 = 0 THEN vec_id + 17 ELSE vec_id END AS img_id
         |  FROM embeddings),
         |dp AS (SELECT p.pair_id, p.img_id, sum(ta.v * tb.v) AS dp
         |  FROM p JOIN e ta ON ta.vec_id = p.text_id
         |  JOIN e tb ON tb.vec_id = p.img_id AND tb.pos = ta.pos
         |  GROUP BY 1, 2),
         |r AS (SELECT d.pair_id, d.img_id,
         |    round(d.dp / (na.nrm * nb.nrm), 6) AS cosine,
         |    ca.cid AS text_cell, cb.cid AS img_cell
         |  FROM dp d
         |  JOIN vnorms na ON na.vec_id = d.pair_id
         |  JOIN vnorms nb ON nb.vec_id = d.img_id
         |  JOIN asg ca ON ca.vec_id = d.pair_id
         |  JOIN asg cb ON cb.vec_id = d.img_id)
         |SELECT pair_id, img_id, cosine, text_cell, img_cell,
         |  CAST(text_cell = img_cell AS BIGINT) AS same_cell,
         |  CAST(cosine >= 0.9 AS BIGINT) AS aligned
         |FROM r ORDER BY pair_id""".stripMargin,
    "e_top_quality_docs" -> topQualityDocsOracle,
    "e_curation_funnel" -> curationFunnelOracle,
    "e_vocabulary" ->
      """WITH v AS (SELECT unnest(str_split(trim(text), ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n FROM v WHERE token <> '' GROUP BY token),
        |r AS (SELECT token, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank FROM c)
        |SELECT token, n, rank FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,
    "e_vocab_coverage" ->
      """WITH v AS (SELECT unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n FROM v WHERE token <> '' GROUP BY token),
        |r AS (SELECT token, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |ks(k) AS (VALUES (5), (10), (20), (30))
        |SELECT CAST(ks.k AS BIGINT) AS k, CAST(sum(r.n) AS BIGINT) AS covered,
        |  t.total,
        |  round(CAST(sum(r.n) AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS coverage
        |FROM ks JOIN r ON r.rank <= ks.k CROSS JOIN t
        |GROUP BY ks.k, t.total ORDER BY k""".stripMargin,
    // NFKC is identity on this ASCII corpus, so RE2's \p{L}\p{N} classes
    // reproduce the Spark tokenizer exactly; non-ASCII NFKC behavior is
    // proven in TextAnalysisSpec (DuckDB ships no normalizer)
    "e_vocabulary_unicode" ->
      """WITH v AS (SELECT unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS n FROM v GROUP BY token),
        |r AS (SELECT token, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank FROM c)
        |SELECT token, n, rank FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,
    "e_token_unicode" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '[\p{L}\p{N}]+'))) AS BIGINT)
        |    AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e_cluster_sample" ->
      s"""WITH $kmeansCte,
        |scored AS (SELECT vec_id, cid AS cluster_id, round(d2, 6) AS dist2
        |  FROM a2 WHERE rn = 1),
        |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY dist2 DESC, vec_id ASC) AS BIGINT) AS rank FROM scored)
        |SELECT vec_id, cluster_id, dist2, rank FROM ranked
        |WHERE rank <= 10 ORDER BY vec_id""".stripMargin,
    "e_passage_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), positions AS (
        |  SELECT doc_id, t,
        |         unnest(range(0, greatest(CAST(ceil(len(t)/10.0) AS BIGINT), 1))) AS pos
        |  FROM toks
        |), passages AS (
        |  SELECT doc_id, pos,
        |         array_to_string(t[pos*10+1 : pos*10+10], ' ') AS ptext
        |  FROM positions
        |), marked AS (
        |  SELECT doc_id, pos, ptext,
        |         row_number() OVER (PARTITION BY ptext ORDER BY doc_id, pos) = 1 AS keep
        |  FROM passages
        |)
        |SELECT doc_id,
        |       coalesce(string_agg(ptext, ' ' ORDER BY pos) FILTER (WHERE keep), '') AS kept_text,
        |       count(*) AS n_passages,
        |       count(*) FILTER (WHERE NOT keep) AS n_dropped
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e_boilerplate_lines" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), positions AS (
        |  SELECT doc_id, t,
        |         unnest(range(0, greatest(CAST(ceil(len(t)/10.0) AS BIGINT), 1))) AS pos
        |  FROM toks
        |), segments AS (
        |  SELECT doc_id, pos,
        |         array_to_string(t[pos*10+1 : pos*10+10], ' ') AS ptext
        |  FROM positions
        |), docfreq AS (
        |  SELECT ptext, count(DISTINCT doc_id) AS df FROM segments GROUP BY ptext
        |), marked AS (
        |  SELECT s.doc_id, s.pos, s.ptext, d.df < 3 AS keep
        |  FROM segments s JOIN docfreq d USING (ptext)
        |)
        |SELECT doc_id,
        |       coalesce(string_agg(ptext, ' ' ORDER BY pos) FILTER (WHERE keep), '') AS kept_text,
        |       count(*) AS n_segments,
        |       count(*) FILTER (WHERE NOT keep) AS n_boiler
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e_embed_quantize" -> quantizeOracle,
    // e_approx_percentile: engine-specific sketch — deliberately no oracle
    "e_dedup_simhash" -> simhashOracle,
    "e_simhash_pairs" -> simhashPairsOracle,
    "e_simhash_multitable" -> simhashMultitableOracle,
    "e_phash_neardup" -> phashNeardupOracle,
    "e_audio_neardup" -> segmentNeardupOracleSql(
      sliceMod = 1, segBytes = AudioSegBytes, stride = 1,
      minLen = AudioSegBytes / 4),
    "e_video_neardup" -> segmentNeardupOracleSql(
      sliceMod = 2, segBytes = VideoFrameBytes, stride = VideoEveryN,
      minLen = VideoFrameBytes / 4),
    "e_phash_clusters" -> phashClustersOracle,
    "e_heavy_hitters" -> heavyHittersOracle,
    "e_pq_encode" -> pqEncodeOracle,
    "e_pq_adc_topk" -> pqAdcOracle,
    "e_ivfpq_rerank" -> ivfPqRerankOracle,
    "e_retrieval_ndcg" -> retrievalNdcgOracle,
    "e_retrieval_mrr" -> retrievalMrrOracle,
    "e_ivfpq_topk" -> ivfPqOracle,
    "e_ivfpq_residual" -> ivfPqResidualOracle,
    "e_hard_negatives" ->
      ivfRankedOracle(s"rank > $HnSkip AND rank <= ${HnSkip + HnK}"),
    "e_bm25" -> bm25Oracle,
    "e_hybrid_rrf" -> hybridRrfOracle,
    "e_weighted_sample" -> weightedSampleOracle,
    "e_collocations" -> collocationsOracle,
    "e_interval_join" ->
      """WITH ev AS (SELECT event_id, event_type,
        |       epoch_ms(ts) // 1000 AS sec FROM events),
        |i AS (SELECT event_id AS incident_id, sec AS i_start, sec + 300 AS i_end
        |       FROM ev WHERE event_type = 'error'),
        |v AS (SELECT event_id AS view_id, sec AS v_ts FROM ev
        |       WHERE event_type = 'view')
        |SELECT incident_id, CAST(count(*) AS BIGINT) AS n_views,
        |       min(v_ts) AS first_view, max(v_ts) AS last_view
        |FROM i JOIN v ON v.v_ts BETWEEN i.i_start AND i.i_end
        |GROUP BY incident_id ORDER BY incident_id""".stripMargin,
    // sketch estimates are engine state; the oracle checks the exact group
    // counts AND that every Spark-side rank-window certificate holds
    "e_approx_percentile" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS p50_within_bound,
        |  CAST(1 AS BIGINT) AS p99_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e_quantile_sketch" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS p50_within_bound,
        |  CAST(1 AS BIGINT) AS p99_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e_dataset_card" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '[\p{L}\p{N}]+'))) AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  round(avg(length(text)), 4) AS avg_chars,
        |  min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars,
        |  CAST(count(DISTINCT md5(trim(lower(text)))) AS BIGINT) AS n_distinct_texts,
        |  round(1.0 - CAST(count(DISTINCT md5(trim(lower(text)))) AS DOUBLE)
        |    / count(*), 6) AS exact_dup_rate
        |FROM documents""".stripMargin,
    "e_hilbert_key" -> {
      // the same unrolled xy→d walk as Hilbert.hValue, one CTE per bit
      // (most significant first); rx/ry recompute inline per step
      val bits = 8
      val steps = (bits - 1 to 0 by -1).zipWithIndex.map { case (k, idx) =>
        val s = 1L << k
        val rx = s"((x >> $k) & 1)"
        val ry = s"((y >> $k) & 1)"
        s"""h${idx + 1} AS (SELECT doc_id,
           |  CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1
           |    THEN ${s - 1} - y ELSE y END ELSE x END AS x,
           |  CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1
           |    THEN ${s - 1} - x ELSE x END ELSE y END AS y,
           |  d + ${s * s} * xor(3 * $rx, $ry) AS d
           |  FROM h$idx)""".stripMargin
      }.mkString(",\n")
      s"""WITH h0 AS (SELECT doc_id, n_chars % 256 AS x, doc_id % 256 AS y,
         |       0 AS d FROM documents),
         |xy AS (SELECT doc_id, n_chars % 256 AS x, doc_id % 256 AS y
         |       FROM documents),
         |$steps
         |SELECT xy.doc_id, CAST(xy.x AS BIGINT) AS x, CAST(xy.y AS BIGINT) AS y,
         |       CAST(h$bits.d AS BIGINT) AS h
         |FROM xy JOIN h$bits ON xy.doc_id = h$bits.doc_id
         |ORDER BY xy.doc_id""".stripMargin
    },
    "e_zorder_key" -> {
      val terms = (0 until 8).flatMap { i =>
        Seq(s"(((x >> $i) & 1) * ${1L << (2 * i)})",
          s"(((y >> $i) & 1) * ${1L << (2 * i + 1)})")
      }.mkString(" + ")
      s"""WITH b AS (SELECT doc_id, n_chars % 256 AS x, doc_id % 256 AS y
         |       FROM documents)
         |SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
         |       CAST($terms AS BIGINT) AS z
         |FROM b ORDER BY doc_id""".stripMargin
    },
    "e_lm_perplexity" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS term
        |       FROM documents),
        |tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY term),
        |st AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tokens,
        |       CAST(count(*) AS DOUBLE) AS v_types FROM uni),
        |sc AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        |       -sum(ln((CAST(uni.c AS DOUBLE) + 1.0)
        |         / (st.n_tokens + 1.0 * (st.v_types + 1.0)))) / count(*) AS h
        |       FROM tk JOIN uni ON tk.term = uni.term CROSS JOIN st
        |       GROUP BY tk.doc_id)
        |SELECT doc_id, n_scored, round(h, 6) AS cross_entropy,
        |       round(exp(h), 6) AS perplexity
        |FROM sc ORDER BY doc_id""".stripMargin,
    "e_lm_prune" ->
      s"""WITH $lmPruneLossCtes
        |SELECT w1, w2, c12, round(loss, 6) AS loss,
        |  CAST(CASE WHEN loss >= $LmPruneTheta THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM ls
        |ORDER BY round(loss, 6) DESC, w1 ASC, w2 ASC LIMIT $LmPruneTopK""".stripMargin,
    "e_lm_prune_stats" ->
      s"""WITH $lmPruneLossCtes
        |SELECT CAST(count(*) AS BIGINT) AS b_types,
        |  CAST(sum(CASE WHEN loss >= $LmPruneTheta THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN loss < $LmPruneTheta THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
        |  round(CAST(sum(CASE WHEN loss >= $LmPruneTheta THEN c12 ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(c12) AS DOUBLE), 6) AS kept_mass
        |FROM ls""".stripMargin,
    "e_lm_kneser_ney" -> {
      val dd = KnDiscount.toString
      s"""WITH tk0 AS (SELECT doc_id, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS t FROM documents),
        |tok AS (SELECT doc_id, t[i] AS w,
        |        CASE WHEN i > 1 THEN t[i - 1] ELSE '' END AS prev
        |        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk0)
        |        WHERE t[i] <> ''),
        |tku AS (SELECT unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS term FROM documents),
        |uni AS (SELECT term FROM tku WHERE term <> '' GROUP BY term),
        |bi AS (SELECT t[i] AS w1, t[i + 1] AS w2
        |       FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk0)
        |       WHERE t[i] <> '' AND t[i + 1] <> ''),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi GROUP BY 1, 2),
        |ctx AS (SELECT w1 AS prev, CAST(sum(c12) AS BIGINT) AS cv,
        |        CAST(count(*) AS BIGINT) AS n1fwd FROM bc GROUP BY w1),
        |cont AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS n1bwd FROM bc GROUP BY w2),
        |st AS (SELECT CAST((SELECT count(*) FROM bc) AS DOUBLE) AS b_types,
        |        CAST((SELECT count(*) FROM uni) AS DOUBLE) AS v_types),
        |sc AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        |       -sum(CASE WHEN tok.prev = '' OR ctx.cv IS NULL
        |          THEN ln((CAST(COALESCE(cont.n1bwd, 0) AS DOUBLE) + 1.0)
        |            / (st.b_types + st.v_types + 1.0))
        |          ELSE ln(
        |            greatest(CAST(COALESCE(bc.c12, 0) AS DOUBLE) - $dd, 0.0)
        |              / CAST(ctx.cv AS DOUBLE)
        |            + ($dd * CAST(ctx.n1fwd AS DOUBLE) / CAST(ctx.cv AS DOUBLE))
        |              * ((CAST(COALESCE(cont.n1bwd, 0) AS DOUBLE) + 1.0)
        |                / (st.b_types + st.v_types + 1.0)))
        |          END) / count(*) AS h
        |       FROM tok
        |       LEFT JOIN cont ON cont.w = tok.w
        |       LEFT JOIN ctx ON ctx.prev = tok.prev
        |       LEFT JOIN bc ON bc.w1 = tok.prev AND bc.w2 = tok.w
        |       CROSS JOIN st
        |       GROUP BY tok.doc_id)
        |SELECT doc_id, n_scored, round(h, 6) AS cross_entropy,
        |       round(exp(h), 6) AS perplexity
        |FROM sc ORDER BY doc_id""".stripMargin
    },
    "e_lm_perplexity2" ->
      s"""WITH $lmInterpCtes
        |SELECT doc_id, n_scored, round(h, 6) AS cross_entropy,
        |       round(exp(h), 6) AS perplexity
        |FROM sc ORDER BY doc_id""".stripMargin,
    "e_lm_tail_cut" ->
      s"""WITH $lmInterpCtes,
        |p AS (SELECT doc_id, round(exp(h), 6) AS perplexity FROM sc),
        |r AS (SELECT doc_id, perplexity,
        |      CAST(ntile($LmTailTiles) OVER (ORDER BY perplexity DESC, doc_id)
        |        AS BIGINT) AS tile FROM p)
        |SELECT doc_id, perplexity, tile FROM r WHERE tile > 1
        |ORDER BY doc_id""".stripMargin,
    "e_ngram_jaccard" -> jaccardOracle,
    "e_containment_dup" -> containmentOracle,
    "e_edit_verify" -> editVerifyOracle,
    "e_jaro_verify" -> jaroVerifyOracle,
    "e_verify_sweep" -> verifySweepOracle,
    "e_dup_explain" -> dupExplainOracle,
    "e_idf_cosine" -> idfCosineOracle,
    "e_ql_dirichlet" -> qlDirichletOracle,
    "e_rank_corr" -> rankCorrOracle,
    "e_rank_overlap" -> rankOverlapOracle,
    "e_sorted_neighborhood" -> sortedNeighborhoodOracle,
    "e_phrase_search" -> phraseSearchOracle,
    "e_source_jaccard" -> sourceJaccardOracle,
    "e_matryoshka_recall" -> matryoshkaRecallOracle,
    "e_distinct_n" -> distinctNOracle,
    "e_zipf_slope" -> zipfSlopeOracle,
    "e_concordance" -> concordanceOracle,
    "e_token_dispersion" -> tokenDispersionOracle,
    "e_bottomk_sample" -> bottomkSampleOracle,
    "e_bottomk_resemblance" -> bottomkResemblanceOracle,
    "e_winnow_fingerprints" -> winnowFingerprintsOracle,
    "e_winnow_matches" -> winnowMatchesOracle,
    "e_span_dedup_apply" -> {
      val L = SpanDedupL
      s"""WITH $toksCte,
        |g0 AS (SELECT doc_id, unnest(range(1, greatest(len(t) - ${L - 1}, 1) + 1)) AS i, t
        |  FROM toks),
        |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS i0,
        |  md5(array_to_string(t[i:i+${L - 1}], ' ')) AS dig
        |  FROM g0 WHERE i - 1 + $L <= len(t)),
        |fst AS (SELECT dig, doc_id AS fdoc, i0 AS fi0 FROM (
        |  SELECT dig, doc_id, i0,
        |    row_number() OVER (PARTITION BY dig ORDER BY doc_id, i0) AS rn FROM g)
        |  WHERE rn = 1),
        |cuts AS (SELECT DISTINCT doc_id, ti FROM (
        |  SELECT g.doc_id, unnest(range(g.i0, g.i0 + $L)) AS ti
        |  FROM g JOIN fst USING (dig)
        |  WHERE NOT (g.doc_id = fst.fdoc AND g.i0 = fst.fi0))),
        |tokens AS (SELECT doc_id,
        |  CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS pos, unnest(t) AS tok
        |  FROM toks),
        |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tokens k
        |  LEFT JOIN cuts c ON k.doc_id = c.doc_id AND k.pos = c.ti
        |  WHERE c.doc_id IS NULL),
        |re AS (SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS clean_text,
        |  CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(len(t.t) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
        |  ${hexHashSql("coalesce(clean_text, '')")} AS clean_hash
        |FROM toks t LEFT JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "e_chunk_overlap" ->
      s"""WITH $toksCte,
        |ch AS (SELECT doc_id, len(t) AS n,
        |  unnest(range(0, CASE WHEN len(t) <= $ChunkSize THEN 1
        |    ELSE 1 + CAST(ceil((len(t) - $ChunkSize) / $ChunkStride.0) AS BIGINT) END)) AS i, t
        |  FROM toks)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * $ChunkStride AS BIGINT) AS start_tok,
        |  CAST(least($ChunkSize, n - i * $ChunkStride) AS BIGINT) AS n_tokens,
        |  ${hexHashSql(s"array_to_string(t[i*$ChunkStride+1 : i*$ChunkStride+$ChunkSize], ' ')")} AS chunk_hash
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "e_dsir_weights" -> dsirOracle,
    "e_dsir_ess" -> dsirEssOracle,
    "e_nb_classify" -> nbClassifyOracle,
    "e_nb_confusion" -> nbConfusionOracle,
    "e_nb_pr_curve" -> nbPrCurveOracle,
    "e_classifier_kappa" -> classifierKappaOracle,
    "e_mixture_temperature" -> mixtureTemperatureOracle,
    "e_cdc_chunks" -> cdcChunksOracle,
    "e_cdc_dedup" -> cdcDedupOracle,
    "e_suffix_ranks" -> suffixRanksOracle,
    "e_lcp_repeats" -> lcpRepeatsOracle,
    "e_exact_contamination" -> exactContaminationOracle,
    "e_cosine_topk" -> cosineTopkOracle(k = 5, bucketJoin = false,
      sampled = true),
    "e_random_projection" ->
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |       CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |sg AS (SELECT j, r,
        |    CASE WHEN ('0x' || substring(md5('rp|' || CAST(j AS VARCHAR)
        |        || '|' || CAST(r AS VARCHAR)), 1, 14))::BIGINT % 2 = 0
        |      THEN 1.0 ELSE -1.0 END AS s
        |  FROM range(0, 64) t1(j), range(0, 16) t2(r)),
        |p AS (SELECT e.vec_id, sg.r, sum(e.v * sg.s) AS pv
        |  FROM e JOIN sg ON sg.j = e.pos - 1 GROUP BY 1, 2),
        |norms AS (SELECT vec_id, sqrt(sum(pv * pv)) AS nrm FROM p GROUP BY vec_id),
        |q AS (SELECT * FROM p WHERE vec_id % 50 = 0),
        |dots AS (SELECT q.vec_id AS query_id, p.vec_id AS neighbor_id,
        |    sum(q.pv * p.pv) AS dp
        |  FROM q JOIN p ON q.r = p.r AND q.vec_id <> p.vec_id GROUP BY 1, 2),
        |scored AS (SELECT query_id, neighbor_id,
        |    round(dp / (nq.nrm * nc.nrm), 6) AS cosine_sim
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = query_id
        |  JOIN norms nc ON nc.vec_id = neighbor_id),
        |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "e_rp_recall" ->
      s"""WITH $embCtes,
        |q AS (SELECT * FROM e WHERE vec_id % 50 = 0 AND vec_id < $EvalQueryCut),
        |dots AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    sum(q.v * e.v) AS dp
        |  FROM q JOIN e ON q.pos = e.pos AND q.vec_id <> e.vec_id GROUP BY 1, 2),
        |scored AS (SELECT query_id, neighbor_id,
        |    round(dp / (nq.nrm * nc.nrm), 6) AS cs
        |  FROM dots
        |  JOIN norms nq ON nq.vec_id = query_id
        |  JOIN norms nc ON nc.vec_id = neighbor_id),
        |exact AS (SELECT query_id, neighbor_id FROM (SELECT *,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id ASC) AS rn FROM scored)
        |  WHERE rn <= 3),
        |sg AS (SELECT j, r,
        |    CASE WHEN ('0x' || substring(md5('rp|' || CAST(j AS VARCHAR)
        |        || '|' || CAST(r AS VARCHAR)), 1, 14))::BIGINT % 2 = 0
        |      THEN 1.0 ELSE -1.0 END AS s
        |  FROM range(0, 64) t1(j), range(0, 16) t2(r)),
        |p AS (SELECT e.vec_id, sg.r, sum(e.v * sg.s) AS pv
        |  FROM e JOIN sg ON sg.j = e.pos - 1 GROUP BY 1, 2),
        |pnorms AS (SELECT vec_id, sqrt(sum(pv * pv)) AS nrm FROM p GROUP BY vec_id),
        |pq AS (SELECT * FROM p WHERE vec_id % 50 = 0 AND vec_id < $EvalQueryCut),
        |pdots AS (SELECT pq.vec_id AS query_id, p.vec_id AS neighbor_id,
        |    sum(pq.pv * p.pv) AS dp
        |  FROM pq JOIN p ON pq.r = p.r AND pq.vec_id <> p.vec_id GROUP BY 1, 2),
        |pscored AS (SELECT query_id, neighbor_id,
        |    round(dp / (nq.nrm * nc.nrm), 6) AS cs
        |  FROM pdots
        |  JOIN pnorms nq ON nq.vec_id = query_id
        |  JOIN pnorms nc ON nc.vec_id = neighbor_id),
        |approx AS (SELECT query_id, neighbor_id FROM (SELECT *,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id ASC) AS rn FROM pscored)
        |  WHERE rn <= 3)
        |SELECT x.query_id, CAST(count(a.query_id) AS BIGINT) AS n_hits,
        |       round(count(a.query_id) / 3.0, 6) AS recall
        |FROM exact x LEFT JOIN approx a
        |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
        |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,
    "e_ann_lsh_topk" -> cosineTopkOracle(k = 3, bucketJoin = true),
    "e_ann_multiprobe" -> annMultiprobeOracle,
    "e_ann_recall" -> annRecallOracle,
    "e_ann_recall_sweep" -> annRecallSweepOracle,
    "e_ivf_topk" -> ivfOracle,
    "e_ivf_balance" ->
      s"""WITH $embCtes,
        |vc AS (SELECT v.vec_id AS vid, c.vec_id AS cell_id, sum(v.v * c.v) AS dp
        |  FROM e v JOIN e c ON v.pos = c.pos
        |  WHERE c.vec_id % 50 = 1
        |  GROUP BY 1, 2),
        |vcs AS (SELECT vid, cell_id, round(dp / (nv.nrm * nc.nrm), 6) AS cs
        |  FROM vc JOIN norms nv ON nv.vec_id = vid
        |  JOIN norms nc ON nc.vec_id = cell_id),
        |assigned AS (SELECT vid, cell_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cell_id ASC) AS rn
        |  FROM vcs) WHERE rn = 1)
        |SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM assigned), 6) AS share
        |FROM assigned GROUP BY cell_id ORDER BY cell_id""".stripMargin,
    "e_dedup_apply" -> dedupApplyOracle,
    "e_multimodal_frames" -> framesOracle,
    "e_cosine_neardup" -> neardupOracle,
    "e_mutual_neighbors" -> mutualNeighborsOracle,
    "e_elbow_curve" -> {
      val perM = ElbowMods.map { m =>
        s"""c0$m AS (SELECT CAST(dense_rank() OVER (ORDER BY vec_id) AS BIGINT) AS cid, pos, v
           |  FROM e WHERE vec_id % $m = 1),
           |d1$m AS (SELECT e.vec_id, c0$m.cid, sum((e.v - c0$m.v) * (e.v - c0$m.v)) AS d2
           |  FROM e JOIN c0$m ON e.pos = c0$m.pos GROUP BY 1, 2),
           |a1$m AS (SELECT vec_id, d2 FROM (
           |  SELECT vec_id, d2, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY d2 ASC, cid ASC) AS rn FROM d1$m) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val sels = ElbowMods.map { m =>
        s"""SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % $m = 1) AS k_centroids,
           |  CAST(count(*) AS BIGINT) AS n_vectors,
           |  round(sum(d2), 6) AS inertia,
           |  round(round(sum(d2), 6) / count(*), 6) AS mean_d2
           |FROM a1$m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |       CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
         |$perM
         |SELECT * FROM (
         |$sels
         |) ORDER BY k_centroids""".stripMargin
    },
    "e_decontam_sweep" -> {
      val perW = DecontamWidths.map { w =>
        s"""sh$w AS (SELECT DISTINCT doc_id,
           |  ${hexHashSql(s"array_to_string(t[i:i+${w - 1}], ' ')")} AS sh
           |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - ${w - 1}, 1) + 1)) AS i
           |        FROM toks)),
           |b$w AS (SELECT DISTINCT sh FROM sh$w WHERE doc_id % 97 = 0),
           |h$w AS (SELECT CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs_hit
           |  FROM sh$w s JOIN b$w USING (sh) WHERE s.doc_id % 97 <> 0)""".stripMargin
      }.mkString(",\n")
      val sels = DecontamWidths.map { w =>
        s"""SELECT CAST($w AS BIGINT) AS ngram_width,
           |  (SELECT CAST(count(*) AS BIGINT) FROM b$w) AS n_bench_shingles,
           |  (SELECT n_docs_hit FROM h$w) AS n_docs_hit""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $toksCte,
         |$perW,
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus_docs
         |  FROM documents WHERE doc_id % 97 <> 0)
         |SELECT ngram_width, n_bench_shingles, n_docs_hit, nc.n_corpus_docs,
         |  round(CAST(n_docs_hit AS DOUBLE) / nc.n_corpus_docs, 6) AS contaminated_share
         |FROM ($sels) CROSS JOIN nc
         |ORDER BY ngram_width""".stripMargin
    },
    "e_bpe_fertility" ->
      s"""WITH $bpeTrainCtes,
         |vocabtok AS (SELECT word,
         |  CAST(len(regexp_extract_all(enc, '\\([^()]*\\)')) AS BIGINT) AS nt
         |  FROM enc$BpeMerges),
         |dw AS (SELECT d.lang,
         |    unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS word
         |  FROM documents d)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(nt) AS BIGINT) AS n_pieces,
         |  round(CAST(sum(nt) AS DOUBLE) / count(*), 6) AS fertility
         |FROM dw JOIN vocabtok USING (word)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "e_dedup_curve" -> {
      val matchSum = (0 until K)
        .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      val sels = Seq(50, 60, 70, 80, 90).map { t =>
        s"""SELECT CAST($t AS BIGINT) AS threshold_pct,
           |  CAST(count(*) FILTER (WHERE ej * 100 >= $t) AS BIGINT) AS n_pairs,
           |  CAST(count(DISTINCT doc_b) FILTER (WHERE ej * 100 >= $t) AS BIGINT) AS n_removed,
           |  (SELECT CAST(count(*) AS BIGINT) FROM documents)
           |    - CAST(count(DISTINCT doc_b) FILTER (WHERE ej * 100 >= $t) AS BIGINT) AS n_survivors
           |FROM est""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $toksCte,
         |${shCte(distinct = false)},
         |$sigsCte,
         |$bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |est AS (SELECT p.doc_a, p.doc_b, round(($matchSum) / $K.0, 6) AS ej
         |  FROM pairs p
         |  JOIN sigs sa ON p.doc_a = sa.doc_id
         |  JOIN sigs sb ON p.doc_b = sb.doc_id)
         |SELECT * FROM (
         |$sels
         |) ORDER BY threshold_pct""".stripMargin
    },
    "e_cluster_density" ->
      s"""$clustersCte,
         |sz AS (SELECT cluster_id, count(*) AS size FROM l3
         |  GROUP BY 1 HAVING count(*) >= 2),
         |ed AS (SELECT la.cluster_id, count(*) AS n_edges FROM fpairs f
         |  JOIN l3 la ON la.doc_id = f.doc_a
         |  JOIN l3 lb ON lb.doc_id = f.doc_b AND lb.cluster_id = la.cluster_id
         |  GROUP BY la.cluster_id)
         |SELECT sz.cluster_id, CAST(size AS BIGINT) AS size,
         |  CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges,
         |  round(CAST(coalesce(n_edges, 0) AS DOUBLE) * 2
         |    / (size * (size - 1)), 6) AS density
         |FROM sz LEFT JOIN ed USING (cluster_id) ORDER BY cluster_id""".stripMargin,
    "e_cc_sizes" ->
      s"""$clustersCte,
         |sz AS (SELECT cluster_id, count(*) AS size FROM l3 GROUP BY 1)
         |SELECT CAST(size AS BIGINT) AS size,
         |  CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY size ORDER BY size""".stripMargin,
    "e_dedup_impact" ->
      s"""WITH $nearDupGraphCtes,
         |removed AS (SELECT DISTINCT doc_b AS doc_id FROM est),
         |d AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS BIGINT) AS n_tokens,
         |    CASE WHEN doc_id IN (SELECT doc_id FROM removed) THEN 1 ELSE 0 END AS r
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(r) AS BIGINT) AS n_removed,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN r = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_removed,
         |  round(CAST(sum(CASE WHEN r = 1 THEN n_tokens ELSE 0 END) AS DOUBLE)
         |    / sum(n_tokens), 6) AS token_share_removed
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "e_lsh_recall_sweep" -> {
      val matchSum = (0 until K)
        .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      val sels = Seq(50, 60, 70, 80, 90).map { t =>
        s"""SELECT CAST($t AS BIGINT) AS threshold_pct,
           |  CAST(count(*) FILTER (WHERE tj * 100 >= $t) AS BIGINT) AS n_truth,
           |  CAST(count(*) FILTER (WHERE ej * 100 >= $t) AS BIGINT) AS n_candidates,
           |  CAST(count(*) FILTER (WHERE tj * 100 >= $t AND ej * 100 >= $t) AS BIGINT) AS n_hits
           |FROM j""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $toksCte,
         |${shCte(distinct = false)},
         |$sigsCte,
         |$bandsCte,
         |$hshCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |est AS (SELECT p.doc_a, p.doc_b, round(($matchSum) / $K.0, 6) AS ej
         |  FROM pairs p
         |  JOIN sigs sa ON p.doc_a = sa.doc_id
         |  JOIN sigs sb ON p.doc_b = sb.doc_id),
         |dfc AS (SELECT sh AS shh, count(*) AS df FROM hsh GROUP BY 1),
         |cnts AS (SELECT doc_id, count(*) AS n FROM hsh GROUP BY doc_id),
         |ranked AS (SELECT h.doc_id, h.sh AS shh, n,
         |    row_number() OVER (PARTITION BY h.doc_id ORDER BY df, h.sh) AS rn
         |  FROM hsh h JOIN dfc ON dfc.shh = h.sh JOIN cnts USING (doc_id)),
         |pre AS (SELECT doc_id, shh FROM ranked
         |  WHERE rn <= n - ((n * $PpjTNum + $PpjTDen - 1) // $PpjTDen) + 1),
         |candp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pre a JOIN pre b ON a.shh = b.shh AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM candp c
         |  JOIN hsh x ON x.doc_id = c.doc_a
         |  JOIN hsh y ON y.doc_id = c.doc_b AND y.sh = x.sh
         |  GROUP BY 1, 2),
         |truth AS (SELECT i.doc_a, i.doc_b,
         |    round(CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter), 6) AS tj
         |  FROM inter i
         |  JOIN cnts na ON na.doc_id = i.doc_a
         |  JOIN cnts nb ON nb.doc_id = i.doc_b
         |  WHERE round(CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter), 6)
         |    * $PpjTDen >= $PpjTNum),
         |j AS (SELECT t.tj, e.ej FROM truth t
         |  FULL OUTER JOIN est e ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b)
         |SELECT threshold_pct, n_truth, n_candidates, n_hits,
         |  CASE WHEN n_truth > 0
         |    THEN round(CAST(n_hits AS DOUBLE) / n_truth, 6) ELSE 0.0 END AS recall,
         |  CASE WHEN n_candidates > 0
         |    THEN round(CAST(n_hits AS DOUBLE) / n_candidates, 6) ELSE 0.0 END AS precision
         |FROM ($sels)
         |ORDER BY threshold_pct""".stripMargin
    },
    "e_lsh_recall" ->
      s"""WITH $nearDupGraphCtes,
         |$hshCtes,
         |dfc AS (SELECT sh AS shh, count(*) AS df FROM hsh GROUP BY 1),
         |cnts AS (SELECT doc_id, count(*) AS n FROM hsh GROUP BY doc_id),
         |ranked AS (SELECT h.doc_id, h.sh AS shh, n,
         |    row_number() OVER (PARTITION BY h.doc_id ORDER BY df, h.sh) AS rn
         |  FROM hsh h JOIN dfc ON dfc.shh = h.sh JOIN cnts USING (doc_id)),
         |pre AS (SELECT doc_id, shh FROM ranked
         |  WHERE rn <= n - ((n * $PpjTNum + $PpjTDen - 1) // $PpjTDen) + 1),
         |candp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pre a JOIN pre b ON a.shh = b.shh AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM candp c
         |  JOIN hsh x ON x.doc_id = c.doc_a
         |  JOIN hsh y ON y.doc_id = c.doc_b AND y.sh = x.sh
         |  GROUP BY 1, 2),
         |truth AS (SELECT i.doc_a, i.doc_b FROM inter i
         |  JOIN cnts na ON na.doc_id = i.doc_a
         |  JOIN cnts nb ON nb.doc_id = i.doc_b
         |  WHERE round(CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter), 6)
         |    * $PpjTDen >= $PpjTNum),
         |hits AS (SELECT t.doc_a, t.doc_b FROM truth t
         |  JOIN est e ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |  (SELECT CAST(count(*) AS BIGINT) FROM est) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
         |  round((SELECT count(*) FROM hits)
         |    / CAST((SELECT count(*) FROM truth) AS DOUBLE), 6) AS recall,
         |  round((SELECT count(*) FROM hits)
         |    / CAST((SELECT count(*) FROM est) AS DOUBLE), 6) AS precision""".stripMargin,
    "e_bbit_minhash" -> {
      val matchSum = (0 until K)
        .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      val ebCols = BbitLevels.map { b =>
        val mask = (1L << b) - 1
        val c = 1.0 / (1L << b)
        val mb = (0 until K)
          .map(i => s"(CASE WHEN (sa.h$i & $mask) = (sb.h$i & $mask) THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"((($mb) / $K.0) - $c) / ${1.0 - c} AS eb_$b"
      }.mkString(",\n  ")
      val sels = BbitLevels.map { b =>
        s"""SELECT CAST($b AS BIGINT) AS b, CAST(count(*) AS BIGINT) AS n_pairs,
           |  round(CAST(sum(CAST(round(abs(eb_$b - ej) * 1e6) AS BIGINT)) AS DOUBLE)
           |    / count(*) / 1e6, 6) AS mean_abs_err,
           |  round(CAST(sum(CAST(round((eb_$b - ej) * 1e6) AS BIGINT)) AS DOUBLE)
           |    / count(*) / 1e6, 6) AS bias
           |FROM pr""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $toksCte,
         |${shCte(distinct = false)},
         |$sigsCte,
         |$bandsCte,
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |pr AS (SELECT p.doc_a, p.doc_b,
         |  round(($matchSum) / $K.0, 6) AS ej,
         |  $ebCols
         |FROM pairs p
         |JOIN sigs sa ON p.doc_a = sa.doc_id
         |JOIN sigs sb ON p.doc_b = sb.doc_id)
         |SELECT * FROM (
         |$sels
         |) ORDER BY b""".stripMargin
    },
    "e_skew_report" -> {
      def fam(table: String, key: String): String =
        s"""SELECT '$table.$key' AS family,
           |  CAST(sum(c) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(max(c) AS BIGINT) AS max_key_rows,
           |  round(CAST(max(c) AS DOUBLE) * count(*) / sum(c), 6) AS skew_factor
           |FROM (SELECT $key, count(*) AS c FROM $table GROUP BY 1)""".stripMargin
      s"""SELECT * FROM (
         |${fam("lineitem", "l_orderkey")}
         |UNION ALL
         |${fam("orders", "o_custkey")}
         |UNION ALL
         |${fam("events", "user_id")}
         |) ORDER BY family""".stripMargin
    },
    "e_simhash_wide" -> {
      val votes = (0 until SimWideBits)
        .map(j => s"sum(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
        .mkString(",\n  ")
      val bitsExpr = (0 until SimWideBits)
        .map(j => s"(CASE WHEN v$j >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
      val hamming = (1 to SimWideBits)
        .map(j => s"(CASE WHEN substring(a.simhash, $j, 1) <> substring(b.simhash, $j, 1) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, ${hexHashSql("tok")} AS th FROM tok),
         |v AS (SELECT doc_id,
         |  $votes
         |FROM h GROUP BY doc_id),
         |fp AS (SELECT doc_id, $bitsExpr AS simhash FROM v)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST($hamming AS BIGINT) AS hamming
         |FROM fp a JOIN fp b
         |  ON substring(a.simhash, 1, $SimWidePrefix) = substring(b.simhash, 1, $SimWidePrefix)
         | AND a.doc_id < b.doc_id
         |WHERE $hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "e_text_entropy" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '[\p{L}\p{N}]+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) AS nd,
        |    list_sum(list_transform(list_distinct(toks),
        |      tk -> CAST(len(list_filter(toks, x -> x = tk)) AS DOUBLE)
        |            * ln(len(list_filter(toks, x -> x = tk)))))  AS sum_clnc
        |  FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(nd AS BIGINT) AS n_distinct,
        |  round(ln(n) - sum_clnc / n, 6) AS entropy,
        |  round(CASE WHEN nd > 1 THEN (ln(n) - sum_clnc / n) / ln(nd)
        |        ELSE 0.0 END, 6) AS norm_entropy
        |FROM s ORDER BY doc_id""".stripMargin,
    "e_gopher_rules" ->
      """WITH t AS (SELECT doc_id, text, regexp_extract_all(text, '[\p{L}\p{N}]+') AS toks
        |  FROM documents),
        |s AS (SELECT
        |    CAST(len(toks) AS DOUBLE) AS nw,
        |    length(replace(trim(text), ' ', '')) / CAST(len(toks) AS DOUBLE) AS mean_wlen,
        |    len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
        |    len(list_distinct(list_filter(toks, x -> x IN
        |      ('the','be','to','of','and','that','have','with')))) AS n_stop,
        |    list_max(list_transform(list_distinct(toks),
        |      tk -> len(list_filter(toks, x -> x = tk))))
        |      / CAST(len(toks) AS DOUBLE) AS top_share
        |  FROM t),
        |f AS (SELECT
        |    CASE WHEN nw < 12 OR nw > 80 THEN 1 ELSE 0 END AS f_wordcount,
        |    CASE WHEN mean_wlen < 3.8 OR mean_wlen > 5.2 THEN 1 ELSE 0 END AS f_wordlen,
        |    CASE WHEN distinct_ratio < 0.35 THEN 1 ELSE 0 END AS f_repetition,
        |    CASE WHEN n_stop < 1 THEN 1 ELSE 0 END AS f_stopwords,
        |    CASE WHEN top_share > 0.2 THEN 1 ELSE 0 END AS f_topshare
        |  FROM s),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(f_wordcount) AS BIGINT) AS wordcount,
        |    CAST(sum(f_wordlen) AS BIGINT) AS wordlen,
        |    CAST(sum(f_repetition) AS BIGINT) AS repetition,
        |    CAST(sum(f_stopwords) AS BIGINT) AS stopwords,
        |    CAST(sum(f_topshare) AS BIGINT) AS topshare,
        |    CAST(sum(CASE WHEN f_wordcount + f_wordlen + f_repetition
        |      + f_stopwords + f_topshare > 0 THEN 1 ELSE 0 END) AS BIGINT) AS any_rule
        |  FROM f),
        |u AS (
        |  SELECT 'wordcount' AS rule, n_docs, wordcount AS n_fail FROM agg
        |  UNION ALL SELECT 'wordlen', n_docs, wordlen FROM agg
        |  UNION ALL SELECT 'repetition', n_docs, repetition FROM agg
        |  UNION ALL SELECT 'stopwords', n_docs, stopwords FROM agg
        |  UNION ALL SELECT 'topshare', n_docs, topshare FROM agg
        |  UNION ALL SELECT 'any_rule', n_docs, any_rule FROM agg)
        |SELECT rule, n_docs, n_fail,
        |  round(CAST(n_fail AS DOUBLE) / n_docs, 6) AS fail_rate
        |FROM u ORDER BY rule""".stripMargin,
    "e_prefix_join" ->
      s"""WITH $toksCte,
         |${shCte(distinct = false)},
         |$hshCtes,
         |dfc AS (SELECT sh, count(*) AS df FROM hsh GROUP BY sh),
         |cnts AS (SELECT doc_id, count(*) AS n FROM hsh GROUP BY doc_id),
         |ranked AS (SELECT h.doc_id, h.sh, n,
         |    row_number() OVER (PARTITION BY h.doc_id ORDER BY df, h.sh) AS rn
         |  FROM hsh h JOIN dfc USING (sh) JOIN cnts USING (doc_id)),
         |pre AS (SELECT doc_id, sh FROM ranked
         |  WHERE rn <= n - ((n * $PpjTNum + $PpjTDen - 1) // $PpjTDen) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pre a JOIN pre b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN hsh x ON x.doc_id = c.doc_a
         |  JOIN hsh y ON y.doc_id = c.doc_b AND y.sh = x.sh
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, na.n AS n_a, nb.n AS n_b,
         |  CAST(i.n_inter AS BIGINT) AS n_inter,
         |  round(CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter), 6) AS jaccard
         |FROM inter i
         |JOIN cnts na ON na.doc_id = i.doc_a
         |JOIN cnts nb ON nb.doc_id = i.doc_b
         |WHERE i.n_inter * $PpjTDen >= (na.n + nb.n - i.n_inter) * $PpjTNum
         |ORDER BY doc_a, doc_b""".stripMargin,
    "e_source_centroids" ->
      """WITH e AS (SELECT d.source, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id),
        |c AS (SELECT source, pos, round(avg(x), 6) AS m FROM e GROUP BY 1, 2),
        |n AS (SELECT source, sqrt(sum(m * m)) AS nrm FROM c GROUP BY 1),
        |dp AS (SELECT a.source AS src_a, b.source AS src_b, sum(a.m * b.m) AS dp
        |  FROM c a JOIN c b ON a.pos = b.pos AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b,
        |  round(dp / (na.nrm * nb.nrm), 6) AS centroid_cosine
        |FROM dp JOIN n na ON na.source = dp.src_a
        |JOIN n nb ON nb.source = dp.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "e_text_langid" -> langidOracle,
    "e_lang_confusion" -> langConfusionOracle,
    "e_langid_margin" -> langidMarginOracle,
    "e_code_switch" -> codeSwitchOracle,
    "e_vocab_growth" ->
      s"""WITH mx AS (SELECT CAST(ceil((max(doc_id) + 1) / $VocabGrowthBuckets.0) AS BIGINT) AS w
        |  FROM documents),
        |$toksCte,
        |${shCte(distinct = false)},
        |gh AS (SELECT doc_id, ${hexHashSql("sh")} AS gh FROM sh),
        |firsts AS (SELECT gh, min(doc_id) AS fd FROM gh GROUP BY gh),
        |pb AS (SELECT CAST(floor(fd / w) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS new_grams FROM firsts, mx GROUP BY 1)
        |SELECT bucket, new_grams,
        |  CAST(sum(new_grams) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_grams
        |FROM pb ORDER BY bucket""".stripMargin,
    "e_dist_drift" ->
      s"""WITH tk AS (SELECT lang, token FROM (
        |  SELECT lang, unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS token FROM documents)
        |  WHERE token <> ''),
        |c AS (SELECT token,
        |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ca,
        |  CAST(count(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS cb
        |  FROM tk GROUP BY token),
        |t AS (SELECT sum(ca) AS ta, sum(cb) AS tb, count(*) AS v FROM c),
        |x AS (SELECT token,
        |  (ca + 1.0) / (ta + v) AS p, (cb + 1.0) / (tb + v) AS q
        |  FROM c, t)
        |SELECT token, round(p, 6) AS p_en, round(q, 6) AS p_rest,
        |  round((p * ln(p / ((p + q) / 2.0)) + q * ln(q / ((p + q) / 2.0))) / 2.0, 6)
        |    AS js_contrib
        |FROM x ORDER BY js_contrib DESC, token ASC LIMIT $DriftTopK""".stripMargin,
    "e_oov_rate" ->
      s"""WITH tok AS (SELECT doc_id, token FROM (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS token FROM documents)
        |  WHERE token <> ''),
        |vocab AS (SELECT token FROM (SELECT token, count(*) AS n FROM tok
        |  GROUP BY token ORDER BY n DESC, token ASC LIMIT $OovVocabSize))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
        |  round(CAST(count(*) FILTER (WHERE v.token IS NULL) AS DOUBLE)
        |    / count(*), 6) AS oov_rate
        |FROM tok LEFT JOIN vocab v ON tok.token = v.token
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "e_text_quality" -> qualityOracle,
    "e_source_scorecard" ->
      s"""WITH $toksCte,
         |j AS (SELECT d.source, d.lang, d.text, toks.t
         |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id),
         |q AS (SELECT source, lang,
         |    CAST(len(t) AS BIGINT) AS toks,
         |    CAST(round($qualityScoreSql * 1000000) AS BIGINT) AS q6,
         |    md5(trim(lower(text))) AS h
         |  FROM j)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  round(CAST(sum(q6) AS DOUBLE) / (count(*) * 1000000.0), 6) AS avg_quality,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_texts,
         |  round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |    AS exact_dup_rate
         |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "e_domain_filter" ->
      s"""WITH $urlCtes
         |SELECT doc_id, host, domain FROM hd
         |WHERE domain NOT IN (${BlockedDomains.map(b => s"'$b'").mkString(", ")})
         |ORDER BY doc_id""".stripMargin,
    "e_host_scorecard" ->
      s"""WITH $urlCtes
         |SELECT host, any_value(domain) AS domain,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+'))) AS BIGINT) AS total_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT md5(trim(lower(text)))) AS BIGINT) AS n_distinct_texts,
         |  round(1.0 - CAST(count(DISTINCT md5(trim(lower(text)))) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS exact_dup_rate
         |FROM hd GROUP BY host ORDER BY host""".stripMargin,
    "e_psl_domains" ->
      """WITH u AS (SELECT doc_id, lang, source, doc_id % 9 AS m FROM documents)
        |SELECT doc_id,
        |  CASE m
        |    WHEN 0 THEN lang || '.' || source || '.org'
        |    WHEN 1 THEN 'www.' || source || '.co.uk'
        |    WHEN 2 THEN 'shop.' || source || '.ck'
        |    WHEN 3 THEN 'www.ck'
        |    WHEN 4 THEN 'a.b.' || source || '.ck'
        |    WHEN 5 THEN lang || '.' || source || '.com.au'
        |    WHEN 6 THEN source || '.pvt.k12.ma.us'
        |    WHEN 7 THEN 'x.blog.' || source || '.nagoya.jp'
        |    ELSE 'www.city.nagoya.jp' END AS host,
        |  CASE m
        |    WHEN 0 THEN source || '.org'
        |    WHEN 1 THEN source || '.co.uk'
        |    WHEN 2 THEN 'shop.' || source || '.ck'
        |    WHEN 3 THEN 'www.ck'
        |    WHEN 4 THEN 'b.' || source || '.ck'
        |    WHEN 5 THEN source || '.com.au'
        |    WHEN 6 THEN source || '.pvt.k12.ma.us'
        |    WHEN 7 THEN 'blog.' || source || '.nagoya.jp'
        |    ELSE 'city.nagoya.jp' END AS domain,
        |  CASE m
        |    WHEN 0 THEN source || '.org'
        |    WHEN 1 THEN source || '.co.uk'
        |    WHEN 2 THEN 'shop.' || source || '.ck'
        |    WHEN 3 THEN 'www.ck'
        |    WHEN 4 THEN 'b.' || source || '.ck'
        |    WHEN 5 THEN source || '.com.au'
        |    WHEN 6 THEN source || '.pvt.k12.ma.us'
        |    WHEN 7 THEN 'blog.' || source || '.nagoya.jp'
        |    ELSE 'city.nagoya.jp' END AS domain_join
        |FROM u ORDER BY doc_id""".stripMargin,
    "e_host_dup_weight" ->
      s"""WITH $nearDupGraphCtes,
         |$urlCtes,
         |rem AS (SELECT DISTINCT doc_b AS doc_id FROM est)
         |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(rem.doc_id) AS BIGINT) AS n_removed,
         |  round(1.0 - CAST(count(rem.doc_id) AS DOUBLE) / count(*), 6)
         |    AS host_weight
         |FROM hd LEFT JOIN rem ON hd.doc_id = rem.doc_id
         |GROUP BY host ORDER BY host""".stripMargin,
    "e_html_strip" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' (' ||
        |    lang || ')</title>' ||
        |  '<script type="text/javascript">var n = 1 < 2;</script>' ||
        |  '<style>p { color: red; }</style></head><body><!-- src: ' ||
        |    source || ' --><h1>' || upper(lang) || '</h1><p>' ||
        |  replace(text, ' row ', ' &quot;row&quot; ') ||
        |  '</p><p>tail &amp; done</p></body></html>' AS html FROM documents),
        |s1 AS (SELECT doc_id, html, regexp_replace(regexp_replace(
        |    regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
        |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS nb FROM h),
        |s2 AS (SELECT doc_id, html,
        |  regexp_replace(nb, '<[^>]+>', ' ', 'g') AS nt FROM s1),
        |s3 AS (SELECT doc_id, html, replace(replace(replace(replace(replace(
        |  replace(nt, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |  '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS dec FROM s2),
        |c AS (SELECT doc_id, html,
        |  trim(regexp_replace(dec, '\s+', ' ', 'g')) AS clean FROM s3)
        |SELECT doc_id,
        |  regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
        |  CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags,
        |  CAST(length(clean) AS BIGINT) AS clean_chars,
        |  md5(clean) AS clean_hash
        |FROM c ORDER BY doc_id""".stripMargin,
    "e_url_canonical" ->
      """WITH u AS (SELECT doc_id, source,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
        |  source || '.org' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |  '/p/' || CAST(doc_id % 17 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 13 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 11 = 0
        |    THEN '?utm_medium=social&id=' || CAST(doc_id % 17 AS VARCHAR)
        |    ELSE '?id=' || CAST(doc_id % 17 AS VARCHAR) ||
        |      (CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END) ||
        |      (CASE WHEN doc_id % 7 = 0 THEN '&ref=rss' ELSE '' END) END) ||
        |  (CASE WHEN doc_id % 19 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |p1 AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(url, '#.*$', ''),
        |    '^[a-z]+://', '') AS rest FROM u),
        |p2 AS (SELECT doc_id, url, rest,
        |  split_part(split_part(rest, '/', 1), '?', 1) AS auth FROM p1),
        |p3 AS (SELECT doc_id, url, auth,
        |  substr(rest, length(auth) + 1) AS pathq FROM p2),
        |p4 AS (SELECT doc_id, url,
        |  split_part(auth, ':', 1) AS host,
        |  CASE WHEN contains(auth, ':') THEN split_part(auth, ':', 2)
        |    ELSE '' END AS port,
        |  split_part(pathq, '?', 1) AS path,
        |  CASE WHEN contains(pathq, '?') THEN split_part(pathq, '?', 2)
        |    ELSE '' END AS q FROM p3),
        |p5 AS (SELECT *, list_filter(string_split(q, '&'), p -> p <> ''
        |    AND NOT regexp_matches(p,
        |      '^(utm_[^=]*|ref|fbclid|gclid|mc_cid|mc_eid)(=.*)?$'))
        |    AS kept FROM p4),
        |cn AS (SELECT doc_id, url,
        |  regexp_replace(lower(host), '^www\.', '') ||
        |  (CASE WHEN port IN ('', '80', '443') THEN ''
        |    ELSE ':' || port END) ||
        |  (CASE WHEN path = '/' THEN ''
        |    ELSE regexp_replace(path, '/+$', '') END) ||
        |  (CASE WHEN q = '' OR len(kept) = 0 THEN ''
        |    ELSE '?' || array_to_string(list_sort(kept), '&') END) AS curl
        |  FROM p5)
        |SELECT curl AS canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_doc
        |FROM cn GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    "e_length_buckets" -> {
      val maxCap = LenBucketCaps.max
      val chain = LenBucketCaps.init
        .map(c => s"WHEN nt <= $c THEN $c").mkString(" ")
      s"""WITH n AS (SELECT least(CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS BIGINT),
         |    $maxCap) AS nt FROM documents),
         |b AS (SELECT nt, CASE $chain ELSE $maxCap END AS cap FROM n)
         |SELECT CAST(cap AS BIGINT) AS bucket_cap,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  CAST(count(*) * cap - sum(nt) AS BIGINT) AS pad_tokens,
         |  round(1.0 - CAST(sum(nt) AS DOUBLE) / (count(*) * cap), 6) AS pad_share
         |FROM b GROUP BY cap ORDER BY bucket_cap""".stripMargin
    },
    "e_knn_accuracy" ->
      s"""WITH $kmeansCte,
         |asg AS (SELECT vec_id, cid FROM a2 WHERE rn = 1),
         |vnorms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
         |cp AS (SELECT a.vec_id AS q, b.vec_id AS nb, sum(ea.v * eb.v) AS dp
         |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
         |    AND a.vec_id % $KnnEvalMod = 0
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
         |  GROUP BY 1, 2),
         |sc AS (SELECT q, nb, round(dp / (na.nrm * nn.nrm), 6) AS cos
         |  FROM cp JOIN vnorms na ON na.vec_id = q
         |  JOIN vnorms nn ON nn.vec_id = nb),
         |rk AS (SELECT q, nb,
         |    row_number() OVER (PARTITION BY q ORDER BY cos DESC, nb ASC) AS rn
         |  FROM sc),
         |votes AS (SELECT r.q, CAST(em.label AS BIGINT) AS nl, count(*) AS cnt
         |  FROM rk r JOIN embeddings em ON em.vec_id = r.nb
         |  WHERE r.rn <= $KnnK GROUP BY 1, 2),
         |pred AS (SELECT q, nl FROM (SELECT q, nl,
         |    row_number() OVER (PARTITION BY q ORDER BY cnt DESC, nl ASC) AS rn
         |  FROM votes) WHERE rn = 1)
         |SELECT CAST(em.label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN p.nl = em.label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  round(CAST(sum(CASE WHEN p.nl = em.label THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS accuracy
         |FROM pred p JOIN embeddings em ON em.vec_id = p.q
         |GROUP BY 1 ORDER BY label""".stripMargin,
    "e_quality_cut" ->
      s"""WITH $toksCte,
         |q AS (SELECT doc_id, lang, $qualityScoreSql AS quality_score
         |  FROM (SELECT d.*, t FROM documents d, toks WHERE d.doc_id = toks.doc_id)),
         |ranked AS (SELECT doc_id, lang, quality_score,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY quality_score DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n FROM q)
         |SELECT doc_id, lang, quality_score FROM ranked
         |WHERE rn <= CAST(floor(0.3 * n) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,
    "e_token_count" ->
      """SELECT doc_id,
        |  CAST(len(str_split(trim(text), ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+'))
        |    + len(regexp_extract_all(text, '[0-9]+'))
        |    + len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS subword_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e_readability" ->
      """WITH t AS (SELECT doc_id, text,
        |    regexp_extract_all(text, '[\p{L}\p{N}]+') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |    AS BIGINT) AS n_sentences,
        |  CAST(len(regexp_extract_all(text, '[aeiouy]+'))
        |    + len(list_filter(toks, x -> NOT regexp_matches(x, '[aeiouy]')))
        |    AS BIGINT) AS n_syllables FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch,
        |  round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
        |    - 15.59, 6) AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin,
    "e_script_profile" -> scriptProfileOracle,
    "e_snapshot_asof" ->
      """WITH v1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        |  FROM documents WHERE doc_id % 11 <> 0),
        |v2 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    CAST(count(DISTINCT md5(CASE WHEN doc_id % 7 = 0
        |      THEN text || ' v2' ELSE text END)) AS BIGINT) AS n_distinct_texts
        |  FROM documents WHERE doc_id % 13 <> 0)
        |SELECT CAST(1 AS BIGINT) AS version, 'ingest' AS operation,
        |  n_docs, id_sum, n_distinct_texts FROM v1
        |UNION ALL SELECT 2, 'upsert', n_docs, id_sum, n_distinct_texts FROM v2
        |UNION ALL SELECT 3, 'compact', n_docs, id_sum, n_distinct_texts FROM v2
        |ORDER BY version""".stripMargin,
    "e_snapshot_catalog" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents
        |WHERE doc_id BETWEEN 40 AND 310 AND n_chars >= 30
        |GROUP BY source ORDER BY source""".stripMargin,
    "e_snapshot_skipping" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id BETWEEN 100 AND 260 AND n_chars BETWEEN 50 AND 2000
        |  AND doc_id % 7 <> 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_partitioned" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang IN ('en', 'de') AND n_chars >= 30
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_time_travel" ->
      """WITH v1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |  FROM documents WHERE doc_id % 11 <> 0 GROUP BY lang),
        |v2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT md5(CASE WHEN doc_id % 7 = 0
        |      THEN text || ' v2' ELSE text END)) AS BIGINT) AS n_texts
        |  FROM documents WHERE doc_id % 13 <> 0 GROUP BY lang)
        |SELECT 'latest' AS as_of, lang, n_docs, n_texts FROM v2
        |UNION ALL
        |SELECT 'v1', lang, n_docs, n_texts FROM v1
        |ORDER BY as_of, lang""".stripMargin,
    "e_snapshot_restore" ->
      """WITH full_t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM documents GROUP BY lang),
        |bad AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM documents WHERE NOT (doc_id BETWEEN 50 AND 400)
        |  GROUP BY lang)
        |SELECT 'bad_release' AS state, lang, n_docs, id_sum FROM bad
        |UNION ALL
        |SELECT 'restored', lang, n_docs, id_sum FROM full_t
        |ORDER BY state, lang""".stripMargin,
    "e_snapshot_clone" ->
      """WITH src AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY lang),
        |sb AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents WHERE NOT (doc_id BETWEEN 100 AND 300)
        |  GROUP BY lang)
        |SELECT 'sandbox' AS state, lang, n_docs, sum_chars FROM sb
        |UNION ALL
        |SELECT 'source', lang, n_docs, sum_chars FROM src
        |ORDER BY state, lang""".stripMargin,
    "e_snapshot_sql_update" ->
      """WITH upd AS (SELECT doc_id,
        |    CASE WHEN doc_id BETWEEN 50 AND 150 AND lang = 'en'
        |      THEN text || ' v2' ELSE text END AS text,
        |    lang,
        |    CASE WHEN doc_id BETWEEN 50 AND 150 AND lang = 'en'
        |      THEN n_chars + 3 ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM upd GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_sql_insert" ->
      """WITH ins AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, NULL AS text, lang FROM documents
        |  WHERE doc_id % 3 = 2),
        |agg AS (
        |  SELECT 'inserted' AS stage, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    CAST(count(text) AS BIGINT) AS n_with_text
        |  FROM ins GROUP BY lang
        |  UNION ALL
        |  SELECT 'overwritten', lang, CAST(count(*) AS BIGINT),
        |    CAST(sum(doc_id) AS BIGINT), CAST(count(text) AS BIGINT)
        |  FROM documents WHERE doc_id % 7 = 0 GROUP BY lang)
        |SELECT * FROM agg ORDER BY stage, lang""".stripMargin,
    "e_snapshot_maintenance" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents)
        |SELECT CAST(2 AS BIGINT) AS version, 'append' AS operation,
        |  c AS n_rows FROM n
        |UNION ALL SELECT 3, 'zorder', c FROM n
        |UNION ALL SELECT 99, 'alive_rows',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE n_chars >= 30)
        |ORDER BY version""".stripMargin,
    "e_snapshot_convert" ->
      """WITH conv AS (SELECT doc_id, lang FROM documents),
        |appended AS (SELECT doc_id, lang FROM conv
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang FROM documents WHERE doc_id % 9 = 0),
        |agg AS (
        |  SELECT 'latest' AS as_of, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM appended WHERE lang IN ('en', 'de') GROUP BY lang
        |  UNION ALL
        |  SELECT 'converted', lang, CAST(count(*) AS BIGINT),
        |    CAST(sum(doc_id) AS BIGINT)
        |  FROM conv WHERE lang IN ('en', 'de') GROUP BY lang)
        |SELECT * FROM agg ORDER BY as_of, lang""".stripMargin,
    "e_snapshot_dv" ->
      """WITH kept AS (SELECT doc_id, text, lang, n_chars FROM documents
        |  WHERE NOT (doc_id BETWEEN 150 AND 450) AND lang <> 'zh'),
        |agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |  FROM kept GROUP BY lang)
        |SELECT 'cow' AS side, lang, n_docs, id_sum, sum_chars, n_texts
        |FROM agg
        |UNION ALL
        |SELECT 'dv', lang, n_docs, id_sum, sum_chars, n_texts FROM agg
        |ORDER BY side, lang""".stripMargin,
    "e_snapshot_dv_update" ->
      """WITH u1 AS (SELECT doc_id,
        |    CASE WHEN doc_id BETWEEN 150 AND 250
        |      THEN text || ' r17' ELSE text END AS text,
        |    lang,
        |    CASE WHEN doc_id BETWEEN 150 AND 250
        |      THEN n_chars + 4 ELSE n_chars END AS n_chars
        |  FROM documents),
        |u2 AS (SELECT doc_id,
        |    CASE WHEN lang = 'zh' THEN 'zh:' || text ELSE text END AS text,
        |    lang, n_chars
        |  FROM u1),
        |agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |  FROM u2 GROUP BY lang)
        |SELECT 'cow' AS side, lang, n_docs, id_sum, sum_chars, n_texts
        |FROM agg
        |UNION ALL
        |SELECT 'dv', lang, n_docs, id_sum, sum_chars, n_texts FROM agg
        |ORDER BY side, lang""".stripMargin,
    "e_snapshot_ddl" ->
      """WITH evolved AS (
        |  SELECT doc_id, text, lang, CAST(NULL AS BIGINT) AS quality
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, lang, CAST(n_chars AS BIGINT)
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(count(quality) AS BIGINT) AS n_quality,
        |  CAST(sum(quality) AS BIGINT) AS sum_quality
        |FROM evolved GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_tblprops" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS len_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_widen" ->
      s"""WITH widened AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |    CAST(n_chars AS BIGINT) AS sc
        |  FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + ${1L << 40}, lang,
        |    CAST(n_chars AS BIGINT)
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(max(doc_id) AS BIGINT) AS id_max,
        |  CAST(sum(sc) AS BIGINT) AS score_sum
        |FROM widened GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_optimize_where" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_zorder_scoped" ->
      """WITH cut AS (SELECT (max(doc_id) * 3) // 5 AS c FROM documents),
        |agg AS (
        |  SELECT 'all' AS era, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'hot', lang, CAST(count(*) AS BIGINT),
        |    CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |  FROM documents, cut WHERE doc_id >= c GROUP BY lang)
        |SELECT * FROM agg ORDER BY era, lang""".stripMargin,
    "e_snapshot_generated" ->
      """WITH allrows AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 700000, lang, n_chars FROM documents
        |  WHERE doc_id % 2 = 1)
        |SELECT n_chars % 8 AS len_bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM allrows GROUP BY len_bucket ORDER BY len_bucket""".stripMargin,
    "e_snapshot_identity" ->
      """WITH b1 AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS row_id
        |  FROM documents WHERE doc_id % 2 = 0),
        |b2 AS (
        |  SELECT doc_id + 800000 AS doc_id, lang, n_chars,
        |    (SELECT count(*) FROM b1) +
        |      row_number() OVER (ORDER BY doc_id) - 1 AS row_id
        |  FROM documents WHERE doc_id % 2 = 1),
        |allrows AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(row_id) AS BIGINT) AS id_sum,
        |  CAST(min(row_id) AS BIGINT) AS lo,
        |  CAST(max(row_id) AS BIGINT) AS hi,
        |  CAST(sum(row_id * doc_id) AS BIGINT) AS wsum
        |FROM allrows GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_table_changes" ->
      """WITH ins AS (
        |  SELECT 'insert' AS _change_type, lang, doc_id + 900000 AS doc_id,
        |    n_chars
        |  FROM documents WHERE doc_id % 3 = 0),
        |del AS (
        |  SELECT 'delete', lang, doc_id, n_chars
        |  FROM documents WHERE doc_id % 5 = 3),
        |up_pre AS (
        |  SELECT 'update_preimage', lang, doc_id, n_chars
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 5 != 3),
        |up_post AS (
        |  SELECT 'update_postimage', lang, doc_id, n_chars * 2
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 5 != 3),
        |ch AS (SELECT * FROM ins UNION ALL SELECT * FROM del
        |  UNION ALL SELECT * FROM up_pre UNION ALL SELECT * FROM up_post)
        |SELECT _change_type, lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM ch GROUP BY _change_type, lang
        |ORDER BY _change_type, lang""".stripMargin,
    "e_snapshot_sql_verbs" ->
      """WITH v1 AS (SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 3 != 0),
        |agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM v1 GROUP BY lang)
        |SELECT 'clone' AS era, lang, n_docs, id_sum, sum_chars FROM agg
        |UNION ALL
        |SELECT 'restored', lang, n_docs, id_sum, sum_chars FROM agg
        |ORDER BY era, lang""".stripMargin,
    "e_snapshot_ckpt" ->
      """WITH agg AS (
        |  SELECT 'full' AS era, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'latest', lang, CAST(count(*) AS BIGINT),
        |    CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
        |  FROM documents
        |  WHERE NOT (doc_id BETWEEN 100 AND 200)
        |    AND NOT (doc_id BETWEEN 300 AND 320)
        |  GROUP BY lang)
        |SELECT * FROM agg ORDER BY era, lang""".stripMargin,
    "e_snapshot_drop_column" ->
      """WITH evolved AS (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 700000, lang, CAST(n_chars AS BIGINT) * 2
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(count(n_chars) AS BIGINT) AS n_with_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM evolved GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_rename" ->
      """WITH appended AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, lang, n_chars FROM documents
        |  WHERE doc_id % 13 = 0),
        |agg AS (
        |  SELECT 'renamed' AS era, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS len_sum
        |  FROM appended WHERE n_chars >= 40 GROUP BY lang
        |  UNION ALL
        |  SELECT 'original', lang, CAST(count(*) AS BIGINT),
        |    CAST(sum(n_chars) AS BIGINT)
        |  FROM documents WHERE n_chars >= 40 GROUP BY lang)
        |SELECT * FROM agg ORDER BY era, lang""".stripMargin,
    "e_snapshot_point_skip" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id IN (3, 41, 97, 123, 250, 999999)
        |ORDER BY doc_id""".stripMargin,
    "e_snapshot_decimal_skip" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(n_chars AS DECIMAL(12,2)) AS price FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  ROUND(CAST(sum(price) AS DOUBLE), 2) AS sum_price
        |FROM t WHERE price BETWEEN 50.00 AND 500.00
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_sql_dml" ->
      """WITH merged AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 1 THEN text || ' v2' ELSE text END AS text,
        |    lang
        |  FROM documents),
        |kept AS (SELECT * FROM merged
        |  WHERE NOT (doc_id BETWEEN 100 AND 300))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_changes" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 3 <> 0 ORDER BY doc_id""".stripMargin,
    "e_snapshot_merge" ->
      """WITH upd AS (SELECT doc_id,
        |    CASE WHEN doc_id BETWEEN 100 AND 300
        |      THEN text || ' v2' ELSE text END AS text, lang
        |  FROM documents),
        |ins AS (SELECT doc_id + 1000000 AS doc_id, text, lang
        |  FROM documents WHERE doc_id % 17 = 0),
        |merged AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,
    "e_snapshot_delete" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE NOT (doc_id BETWEEN 150 AND 450) AND lang <> 'zh'
        |GROUP BY source ORDER BY source""".stripMargin,
    "e_snapshot_source" ->
      """WITH v1 AS (SELECT doc_id, text, lang, n_chars FROM documents
        |  WHERE doc_id % 2 = 0),
        |merged AS (
        |  SELECT doc_id, text, lang, n_chars FROM v1 WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || ' v2', lang, n_chars FROM documents
        |  WHERE doc_id % 3 = 0),
        |agg AS (
        |  SELECT 'latest' AS as_of, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |  FROM merged WHERE n_chars >= 30 GROUP BY lang
        |  UNION ALL
        |  SELECT 'v1', lang, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT md5(text)) AS BIGINT)
        |  FROM v1 WHERE n_chars >= 30 GROUP BY lang)
        |SELECT * FROM agg ORDER BY as_of, lang""".stripMargin,
    "e_snapshot_cdf" ->
      """WITH pre AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |post AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 1 THEN text || ' v2' ELSE text END AS text
        |  FROM documents
        |  WHERE (doc_id % 3 <> 0 OR doc_id % 5 = 1)
        |    AND NOT (doc_id BETWEEN 50 AND 120)),
        |j AS (SELECT coalesce(pre.doc_id, post.doc_id) AS doc_id,
        |    pre.text AS t1, post.text AS t2,
        |    (pre.doc_id IS NOT NULL) AS inpre,
        |    (post.doc_id IS NOT NULL) AS inpost
        |  FROM pre FULL JOIN post ON pre.doc_id = post.doc_id)
        |SELECT doc_id, _change_type FROM (
        |  SELECT doc_id, 'insert' AS _change_type FROM j
        |    WHERE NOT inpre AND inpost
        |  UNION ALL SELECT doc_id, 'delete' FROM j
        |    WHERE inpre AND NOT inpost
        |  UNION ALL SELECT doc_id, 'update_preimage' FROM j
        |    WHERE inpre AND inpost AND t1 IS DISTINCT FROM t2
        |  UNION ALL SELECT doc_id, 'update_postimage' FROM j
        |    WHERE inpre AND inpost AND t1 IS DISTINCT FROM t2) c
        |ORDER BY doc_id, _change_type""".stripMargin,
    "e_snapshot_history" ->
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_even,
        |  CAST(sum(CASE WHEN doc_id BETWEEN 100 AND 200 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_del
        |  FROM documents)
        |SELECT CAST(1 AS BIGINT) AS version, 'ingest' AS operation,
        |  n_even AS n_rows FROM t
        |UNION ALL SELECT 2, 'append', n FROM t
        |UNION ALL SELECT 3, 'delete', n - n_del FROM t
        |ORDER BY version""".stripMargin,
    "e_snapshot_gated" ->
      """WITH flags AS (SELECT doc_id, lang, n_chars,
        |    (lang IS NULL) AS v1,
        |    (n_chars IS NOT NULL AND (n_chars < 20 OR n_chars > 5000)) AS v2,
        |    (lang IS NOT NULL AND lang NOT IN ('en','de','fr','es')) AS v3
        |  FROM documents),
        |clean AS (SELECT * FROM flags WHERE NOT v1 AND NOT v2 AND NOT v3),
        |labeled AS (
        |  SELECT 'not_null:lang' AS key, doc_id FROM flags WHERE v1
        |  UNION ALL
        |  SELECT 'in_range:n_chars', doc_id FROM flags WHERE v2
        |  UNION ALL
        |  SELECT 'in_set:lang', doc_id FROM flags WHERE v3)
        |SELECT 'main' AS side, lang AS key,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM clean GROUP BY lang
        |UNION ALL
        |SELECT 'quarantine', key, CAST(count(*) AS BIGINT),
        |  CAST(sum(doc_id) AS BIGINT)
        |FROM labeled GROUP BY key
        |ORDER BY side, key""".stripMargin,
    "e_snapshot_evolve" ->
      """WITH evolved AS (
        |  SELECT doc_id, lang, CAST(NULL AS DOUBLE) AS score
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, CAST(doc_id % 7 AS DOUBLE) / 10
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(score) AS BIGINT) AS n_scored,
        |  round(sum(coalesce(score, 0)), 6) AS sum_score
        |FROM evolved GROUP BY lang ORDER BY lang""".stripMargin,
    "e_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1, 1 AS p1 FROM documents
        |  WHERE doc_id % 11 <> 0),
        |v2 AS (SELECT doc_id,
        |  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h2,
        |  1 AS p2
        |  FROM documents WHERE doc_id % 13 <> 0),
        |j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, h1, h2, p1, p2
        |  FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id,
        |  CASE WHEN p1 IS NULL THEN 'added'
        |       WHEN p2 IS NULL THEN 'removed'
        |       WHEN h1 IS NOT DISTINCT FROM h2 THEN 'unchanged'
        |       ELSE 'modified' END AS status
        |FROM j
        |WHERE NOT (p1 IS NOT NULL AND p2 IS NOT NULL
        |  AND h1 IS NOT DISTINCT FROM h2)
        |ORDER BY doc_id""".stripMargin,
    "e_luhn_pii" ->
      """WITH f AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 4 = 0 THEN ' card 4532015112830366 end'
        |       WHEN doc_id % 4 = 1 THEN ' card 4532015112830367 end'
        |       ELSE '' END AS t FROM documents),
        |c AS (SELECT doc_id, t,
        |  list_filter(regexp_extract_all(t, '[0-9]+'),
        |    x -> length(x) = 16) AS cands FROM f),
        |v AS (SELECT doc_id, t, cands,
        |  list_filter(cands, c -> list_sum(list_transform(
        |    string_split(c, ''),
        |    (x, i) -> CASE WHEN (length(c) - i) % 2 = 1
        |      THEN CASE WHEN CAST(x AS INT) * 2 > 9
        |        THEN CAST(x AS INT) * 2 - 9 ELSE CAST(x AS INT) * 2 END
        |      ELSE CAST(x AS INT) END)) % 10 = 0) AS valid FROM c)
        |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
        |  CAST(len(valid) AS BIGINT) AS n_valid,
        |  md5(list_reduce(list_prepend(t, valid),
        |    (acc, x) -> replace(acc, x, '[CARD]'))) AS clean_hash
        |FROM v ORDER BY doc_id""".stripMargin,
    "e_blockword_gate" ->
      s"""WITH t AS (SELECT doc_id, regexp_extract_all(text, '[\\p{L}\\p{N}]+') AS toks
         |  FROM documents),
         |c AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> x IN (${BlockedWords
              .map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS blocked_hits,
         |  CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
         |SELECT doc_id, blocked_hits, n_tokens,
         |  round(CAST(blocked_hits AS DOUBLE) / n_tokens, 6) AS blocked_ratio,
         |  (blocked_hits >= $BlockMinHits OR
         |    CAST(blocked_hits AS DOUBLE) / n_tokens > $BlockMaxRatio) AS gated
         |FROM c ORDER BY doc_id""".stripMargin,
    "e_fingerprint" -> fingerprintOracle,
    "e_bpe_merges" -> bpeMergesOracle,
    "e_bpe_encode" -> bpeEncodeOracle,
    "e_tfidf" ->
      """WITH terms AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term ASC) AS rn FROM scored)
        |SELECT doc_id, term AS top_term, tfidf FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "e_stratified_sample" -> {
      val h = hexHashSql("(CAST(doc_id AS VARCHAR) || '|' || lang)")
      s"""SELECT doc_id, lang FROM documents
         |WHERE $h % 100 < CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50
         |  WHEN 'fr' THEN 50 WHEN 'es' THEN 50 WHEN 'zh' THEN 25 ELSE 0 END
         |ORDER BY doc_id""".stripMargin
    },
    "e_corpus_shuffle" -> {
      val h = hexHashSql("CAST(doc_id AS VARCHAR)", "epoch0|")
      s"""WITH keyed AS (SELECT doc_id, $h AS key FROM documents)
         |SELECT doc_id, key % 8 AS shard,
         |       CAST(row_number() OVER (PARTITION BY key % 8
         |         ORDER BY key, doc_id) AS BIGINT) AS shard_pos
         |FROM keyed ORDER BY doc_id""".stripMargin
    },
    "e_shuffle_quality" -> {
      val h = hexHashSql("CAST(doc_id AS VARCHAR)", "epoch0|")
      s"""WITH keyed AS (SELECT doc_id, source, $h AS key FROM documents),
         |sh AS (SELECT doc_id, source, key % 8 AS shard,
         |    row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) AS shard_pos
         |  FROM keyed),
         |adj AS (SELECT shard,
         |    CASE WHEN lag(source) OVER (PARTITION BY shard ORDER BY shard_pos) IS NULL
         |         THEN NULL
         |         WHEN lag(source) OVER (PARTITION BY shard ORDER BY shard_pos) = source
         |         THEN 1 ELSE 0 END AS same
         |  FROM sh),
         |ps AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(coalesce(sum(same), 0) AS BIGINT) AS n_adj_same
         |  FROM adj GROUP BY shard),
         |es AS (SELECT CAST(sum(c * c) AS DOUBLE) /
         |    (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS p_same
         |  FROM (SELECT count(*) AS c FROM documents GROUP BY source))
         |SELECT shard, n_rows, n_adj_same,
         |  round(n_adj_same / (n_rows - 1), 6) AS adj_same_rate,
         |  round(p_same, 6) AS expected_rate,
         |  round((n_adj_same / (n_rows - 1)) / p_same, 6) AS clump_ratio
         |FROM ps CROSS JOIN es ORDER BY shard""".stripMargin
    },
    "e_curriculum_order" -> {
      val h = hexHashSql("CAST(doc_id AS VARCHAR)", "epoch0|")
      s"""WITH keyed AS (SELECT doc_id, least(n_chars // 100, 9) AS stage,
         |  $h AS key FROM documents)
         |SELECT doc_id, stage,
         |       CAST(row_number() OVER (ORDER BY stage, key, doc_id)
         |         AS BIGINT) AS global_pos
         |FROM keyed ORDER BY doc_id""".stripMargin
    },
    "e_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e_repetition_filter" ->
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(t) AS g FROM toks),
         |tokc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2),
         |tokf AS (SELECT doc_id,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_token_frac
         |  FROM tokc GROUP BY doc_id),
         |big AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
         |  i -> array_to_string(t[i:i+1], ' '))) AS g FROM toks),
         |bigc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
         |bigf AS (SELECT doc_id,
         |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
         |  FROM bigc GROUP BY doc_id)
         |SELECT t.doc_id, t.top_token_frac, b.top_bigram_frac,
         |  (t.top_token_frac <= 0.2 AND b.top_bigram_frac <= 0.18) AS keep
         |FROM tokf t JOIN bigf b ON t.doc_id = b.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "e_pack_sequences" -> {
      val shardHash = hexHashSql("CAST(doc_id AS VARCHAR)")
      s"""WITH tc AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[\\p{L}\\p{N}]+')) AS BIGINT) AS n_tokens,
         |  $shardHash % 8 AS shard FROM documents),
         |cum AS (SELECT doc_id, shard, n_tokens,
         |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
         |  FROM tc)
         |SELECT doc_id, shard, CAST(floor(c / 512) AS BIGINT) AS pack_id, n_tokens
         |FROM cum ORDER BY doc_id""".stripMargin
    },
    "e_pii_redact" -> {
      // fold over PiiPatterns exactly as redactPii/piiCount do, so adding a
      // pattern to TextAnalysis automatically extends this oracle too
      val (redacted, counts) = graft.functions.TextAnalysis.PiiPatterns
        .foldLeft(("text", List.empty[String])) { case ((t, cs), (pat, tag)) =>
          (s"regexp_replace($t, '$pat', '$tag', 'g')",
            s"len(regexp_extract_all($t, '$pat'))" :: cs)
        }
      s"""SELECT doc_id, $redacted AS redacted,
         |  CAST(${counts.reverse.mkString(" + ")} AS BIGINT) AS n_pii
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "e_decontam" ->
      s"""WITH $toksCte,
         |${shCte(distinct = false)},
         |$hshCtes,
         |bench AS (SELECT DISTINCT sh FROM hsh WHERE doc_id % 97 = 0)
         |SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM hsh h JOIN bench b ON h.sh = b.sh
         |WHERE h.doc_id % 97 <> 0
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
  )
}
