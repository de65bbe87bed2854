package graft.operators

import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed word-grain suffix array — the character/token-grain
  * EXACT repeated-text primitive under the dedup stack (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better", build a
  * suffix array to find every verbatim repeated span; passage dedup and
  * boilerplate removal approximate this at fixed chunk grain, the suffix
  * array answers it at EVERY grain at once).
  *
  * Construction is prefix doubling (Manber–Myers re-expressed as
  * DataFrame rounds): rank every suffix by its first word, then
  * repeatedly re-rank by the pair (rank of first h words, rank of the
  * suffix h words later) so the compared prefix doubles per round.
  * Suffixes are DOC-BOUNDED (a suffix never crosses a document), so the
  * round count is ⌈log₂(longest doc in words)⌉ — a function of document
  * length, NOT corpus size: the same ~12 rounds rank 100 TB as 100 MB.
  *
  * Scale shape per round: one (doc_id, widx) equi-join fetches the
  * partner rank, then [[GlobalRank]]'s histogram two-pass assigns exact
  * global ranks — a bounded driver histogram plus a window partitioned
  * by scaled-rank bin, never a single-partition sort. Only
  * (doc_id, widx, rank) longs ever shuffle; the text stays in the scan.
  * Rounds early-exit as soon as ranks stop refining (every remaining tie
  * is a genuinely identical suffix pair), and each round's result is
  * checkpointed so the iteration's plan depth stays constant (the CC
  * star-loop discipline).
  */
object SuffixArray {

  /** Exact global suffix ranks of every (doc, word position): `srank` =
    * SQL `rank()` under ORDER BY the word-sequence suffix (ties are
    * identical suffixes), `spos` = `row_number()` with (doc_id, widx)
    * tie-break — the suffix array itself: sorting by `spos` lists every
    * suffix of the corpus in lexicographic order. */
  def suffixRanks(docs: DataFrame, idCol: String, textCol: String,
                  initOrder: Int = 8, subBins: Int = 1 << 12,
                  tok: Column => Column =
                    graft.functions.TextAnalysis.unicodeTokens): DataFrame = {
    require(initOrder >= 1, "initOrder must be >= 1")
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      tok(col(textCol)).as("t"))
    // round 0 ranks by the first `initOrder` words joined with U+0000 —
    // NUL sorts below every byte a token can contain (tokens are
    // space-free by construction and may not contain NUL; a space joiner
    // would mis-order tokens holding sub-space characters like tab), so
    // the joined-window string order IS the element-wise word-sequence
    // order, and split/join invert each other, so key equality is
    // word-sequence equality. Starting at order 8 instead of 1 removes
    // the three thinnest doubling rounds outright. One native codegen
    // pass builds the order-`initOrder` key window at every position
    // (full-mode WordShingles) — the interpreted slice+array_join HOF
    // form was the dominant round-0 cost
    // widen the tokenized docs before the key-window explode: the explode
    // multiplies bytes ~initOrder× and a single-row-group scan gives it
    // ONE partition (see Dedup.widened — no-op at scale)
    val pos = Dedup.widened(toks)
      .select(col("doc_id"),
        posexplode(graft.plans.TextExpressions.wordShingles(
          col("t"), initOrder, full = true, sep = "\u0000")).as(Seq("__i", "__w")))
      .select(col("doc_id"), (col("__i") + 1).cast("long").as("widx"),
        col("__w"))
      .persist()
    // ONE job measures BOTH loop-sizing inputs — the position count (the
    // shuffle-sizing hint, see [[LoopConf]]) and the longest doc (the
    // round bound) — and materializes the persist the round-0 rank pass
    // reads; a bare count() plus a later full-table aggregate on the
    // round-0 output paid a second pass for the same numbers.
    val sized = pos.agg(count(lit(1)), max(col("widx"))).head()
    val nPos = sized.getLong(0)
    val maxWords = if (sized.isNullAt(1)) 0L else sized.getLong(1)
    // ~128 shuffled bytes per position row. `pos` was built before the
    // scope: the body reads it rebound, so its rounds plan with the
    // fitted count
    LoopConf.scoped(LoopConf.fitted(
        LoopConf.partitionsForBytes(pos.sparkSession, nPos * 128L)),
      Seq(pos)) { case Seq(pos) =>
    val n = nPos
    // the string key bins by its 2-codepoint prefix (monotone under
    // binary order). Round-0 ranks stay LAZY: they feed exactly one
    // consumer — the first doubling round's `joined` persist — so a
    // checkpoint here pays a full write+read cycle of the whole table
    // for nothing (measured ~0.5 s of the sf0.1 build); with no rounds
    // to run they ARE the result and checkpoint on the way out (the
    // operator's materialized-output contract). `pos` stays persisted
    // under the lazy round until the first materialization.
    var cur = GlobalRank.withRank(pos, GlobalRank.prefixBin(col("__w")),
          order = Seq(col("__w")),
          tieBreak = Seq(col("doc_id"), col("widx")))
        .select(col("doc_id"), col("widx"),
          col("__grank").as("srank"), col("__rn").as("spos"))
    var posHeld = true
    var h = initOrder.toLong
    var converged = false
    while (h < maxWords && !converged) {
      val t0 = System.nanoTime()
      // rank of the suffixes j·h words later, same doc: widx is contiguous
      // within a doc, so lead(j·h) over the doc partition IS the partner
      // lookup — one partitioned window (one sort) instead of self-joins;
      // 0 = past the end (the shorter suffix is a strict prefix and sorts
      // first). Comparing Fanout ranks at once multiplies the covered
      // order by Fanout per round — ⌈log₈⌉ rounds, not ⌈log₂⌉ — for the
      // price of a wider (still fixed-width) sort key: at 100 TB the
      // round count is the failure/latency surface, the extra key bytes
      // are noise.
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("widx"))
      val leads = (1 until Fanout).map { j =>
        coalesce(lead(col("srank"), math.toIntExact(j * h)).over(wDoc),
          lit(0L)).as(s"__r$j")
      }
      val joined = cur
        .select(Seq(col("doc_id"), col("widx"),
          col("srank").as("__r0")) ++ leads: _*)
        .persist() // read twice: the rank histogram and the rank window
      // the convergence probe below is skipped when this round's order
      // already covers the longest doc; on that final round __r0 has no
      // reader, so keep it out of the checkpointed row too
      val willProbe = h * Fanout < maxWords
      val rankedAll = GlobalRank.withRank(joined,
          GlobalRank.scaledBin(col("__r0"), n, subBins),
          order = (0 until Fanout).map(j => col(s"__r$j")),
          tieBreak = Seq(col("doc_id"), col("widx")))
        .select(col("doc_id"), col("widx"), col("__r0"),
          col("__grank").as("srank"), col("__rn").as("spos"))
      val next = Dedup.materializeAndRelease(
        if (willProbe) rankedAll else rankedAll.drop("__r0"),
        (if (posHeld) Seq(joined, pos) else Seq(joined)): _*)
      posHeld = false
      // no rank moved ⇒ no tie group split ⇒ stable forever (every
      // remaining tie is an identical-suffix pair); valid from round 1 on
      // because __r0 is itself a row rank of the same rows. The probe is
      // skipped when this round's order already covers the longest doc —
      // the loop ends regardless, so the answer would be unused.
      converged = willProbe &&
        next.filter(col("srank") =!= col("__r0")).isEmpty
      cur = if (willProbe) next.drop("__r0") else next
      // narrated like the memo builds: the round count is the operator's
      // scale claim (⌈log_Fanout doc-words⌉), so it is MEASURED
      println(f"[graft] suffix-array round order=$h converged=$converged " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.3f s")
      h *= Fanout
    }
    if (posHeld) Dedup.materializeAndRelease(cur, pos) else cur
    }
  }

  /** Ranks compared per doubling round (k-ary prefix doubling): each
    * round multiplies the compared prefix length by this. */
  private val Fanout = 8

  /** Top-`topK` repeated spans: rank-adjacent suffixes (the suffix-array
    * neighbor is ALWAYS the longest-common-prefix maximizer, the classic
    * LCP-array property) compared over their first `window` words via the
    * native [[graft.plans.CommonPrefixLen]]. Returns
    * (doc_a, pos_a, doc_b, pos_b, lcp, prefix) — `lcp` in characters of
    * the space-joined window, `prefix` the repeated text itself —
    * ordered by lcp descending. The final cut is a TakeOrdered, never a
    * global sort. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 16, topK: Int = 25,
                    subBins: Int = 1 << 12): DataFrame =
    repeatedSpansFromRanks(suffixRanks(docs, idCol, textCol, subBins = subBins),
      docs, idCol, textCol, window, topK)

  /** [[repeatedSpans]] over an already-built rank table — the shape a
    * caller with a persisted/memoized suffix array uses. `pairKeep`
    * restricts which rank-adjacent pairs report (columns doc_a/pos_a/
    * doc_b/pos_b are in scope): [[crossSourceSpans]] uses it for the
    * cross-source contamination read. */
  def repeatedSpansFromRanks(ranks: DataFrame, docs: DataFrame,
                             idCol: String, textCol: String,
                             window: Int, topK: Int,
                             pairKeep: Column = lit(true),
                             tok: Column => Column =
                               graft.functions.TextAnalysis.unicodeTokens): DataFrame =
    spansFromPairs(adjacentSpanPairs(ranks, docs, idCol, textCol, window, tok),
      topK, pairKeep)

  /** Every rank-adjacent suffix pair with its window-bounded LCP and the
    * shared prefix text — the FULL compare table both span reads
    * ([[repeatedSpansFromRanks]] and [[crossSourceSpans]]) cut from.
    * Factored out so callers serving several reads can materialize it
    * once: the span-string build (one doc-grain broadcast join + in-row
    * window slice per position) and the adjacency equi-join are the whole
    * cost of a span read, and they are identical across reads. */
  def adjacentSpanPairs(ranks: DataFrame, docs: DataFrame,
                        idCol: String, textCol: String,
                        window: Int,
                        tok: Column => Column =
                          graft.functions.TextAnalysis.unicodeTokens): DataFrame = {
    require(window >= 1)
    // MUST tokenize at the same grain as the `ranks` build — the widx
    // addresses are token positions of that tokenization
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      tok(col(textCol)).as("t"))
    // re-attach text ONCE, already truncated to the compare window — the
    // join and adjacency shuffle carry ≤ window words per row, not docs
    val withTxt = ranks.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("widx"), col("spos"),
        array_join(slice(col("t"), col("widx").cast("int"), lit(window)), " ")
          .as("__s"))
    val a = withTxt.select(col("doc_id").as("doc_a"),
      col("widx").as("pos_a"), col("spos"), col("__s").as("__sa"))
    val b = withTxt.select(col("doc_id").as("doc_b"),
      col("widx").as("pos_b"), (col("spos") - 1).as("spos"),
      col("__s").as("__sb"))
    a.join(b, Seq("spos"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        graft.plans.TextExpressions.commonPrefixLen(col("__sa"), col("__sb"))
          .cast("long").as("lcp"),
        col("__sa"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        col("lcp"), col("__sa").substr(lit(1), col("lcp").cast("int"))
          .as("prefix"))
  }

  /** The report cut over an [[adjacentSpanPairs]] table (possibly
    * memoized by the caller): filter, then a bounded TakeOrdered — never
    * a global sort. */
  def spansFromPairs(pairs: DataFrame, topK: Int,
                     pairKeep: Column = lit(true)): DataFrame = {
    require(topK >= 1)
    pairs
      .filter(pairKeep)
      .orderBy(desc("lcp"), asc("doc_a"), asc("pos_a"),
        asc("doc_b"), asc("pos_b"))
      .limit(topK)
  }

  /** Exact-substring contamination read: the longest verbatim spans
    * shared ACROSS a source boundary (benchmark slice vs corpus) —
    * decontamination at ANY span length at once, where shingle-based
    * decontam checks one fixed width. `isHeldOut` marks the benchmark
    * side by doc id.
    *
    * Exactness claim, stated precisely: every reported row is a verbatim
    * shared substring between a held-out doc and a corpus doc, and the
    * GLOBAL longest cross-source span is always reported — between the
    * optimal pair's suffixes, every suffix-array neighbor shares at least
    * that prefix, so the first source change among them is an adjacent
    * cross pair with the same (or longer) LCP. */
  def crossSourceSpans(ranks: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String, isHeldOut: Column => Column,
                       window: Int, topK: Int): DataFrame =
    repeatedSpansFromRanks(ranks, docs, idCol, textCol, window, topK,
      pairKeep = isHeldOut(col("doc_a")) =!= isHeldOut(col("doc_b")))
}
