package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native (whole-stage-codegen) word w-shingles of a token array.
  *
  * Why a custom Expression: the composable form
  * `transform(sequence(1, n-w+1), i => array_join(slice(toks, i, w), " "))`
  * is a higher-order function — interpreted per ELEMENT, never codegen'd —
  * and slice/array_join allocate an intermediate array per shingle. Shingle
  * construction is the inner loop of every n-gram operator in the engine
  * (MinHash signatures, LSH banding, Jaccard, decontamination, repetition
  * filters), the dominant scan cost on a 100 TB corpus, so like DotProduct
  * it drops to a hand-written Catalyst Expression with `doGenCode`
  * (SURVEY.md §4.3 preference order (b)). Measured ~10× over the HOF form
  * at sf0.1.
  *
  * Semantics — bit-identical to the HOF form it replaces (DuckDB oracles
  * interpolate the same strings):
  *  - `max(n - w + 1, 1)` shingles: docs shorter than w tokens yield ONE
  *    truncated shingle, never zero (keeps short docs dedupable);
  *  - shingle i = tokens [i, min(i+w, n)) joined by a single space;
  *  - an empty token array yields one empty-string shingle;
  *  - null ELEMENTS are skipped in the join (array_join's default);
  *  - a null token ARRAY yields null.
  */
case class WordShingles(child: Expression, width: Int,
                        full: Boolean = false, sep: String = " ")
    extends UnaryExpression {
  require(width >= 1, s"shingle width must be >= 1, got $width")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires an array<string> argument, got ${other.sql}")
  }

  // the joiner: a single space for the shingle/n-gram consumers (their
  // oracles interpolate the same strings); the suffix-array ranking key
  // joins with U+0000 instead, so that joined-string binary order equals
  // ELEMENT-WISE word-sequence order even when a token contains a
  // sub-space character like tab (NUL sorts below every byte a token can
  // legally contain)
  private val joiner = UTF8String.fromString(sep)

  /** The tight loop; also the codegen target (one virtual call per row). */
  def compute(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    // full = one (end-truncated) window at EVERY position — the suffix-
    // array key shape; default = the classic max(n-w+1, 1) shingle count
    val count = if (full) n else math.max(n - (width - 1), 1)
    val out = new Array[AnyRef](count)
    var i = 0
    while (i < count) {
      val end = math.min(i + width, n)
      val parts = new Array[UTF8String](math.max(end - i, 0))
      var j = i
      while (j < end) {
        parts(j - i) = toks.getUTF8String(j) // null elements skipped by concatWs
        j += 1
      }
      out(i) = UTF8String.concatWs(joiner, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

/** Native common-prefix length (in CHARACTERS) of two strings — the LCP
  * primitive of the suffix-array family ([[graft.operators.SuffixArray]]):
  * rank-adjacent suffix comparison is the inner loop of repeated-span
  * detection, and the composable alternatives (an `aggregate` over a
  * zipped char split, or a positional HOF) are interpreted per CHARACTER
  * and allocate per row. One byte-wise scan, truncated to a UTF-8
  * character boundary (UTF-8 byte order equals codepoint order, so byte
  * prefix equality over whole characters IS character prefix equality —
  * the DuckDB oracle's per-character `substr` compare agrees exactly).
  *
  * Null if either side is null; 0 when the strings differ at the first
  * character (the empty string shares nothing). */
case class CommonPrefixLen(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"common_prefix_len requires two string arguments, got ${l.sql}, ${r.sql}")
    }

  /** The tight loop; also the codegen target. */
  def compute(a: UTF8String, b: UTF8String): Int = {
    val na = a.numBytes()
    val nb = b.numBytes()
    val lim = math.min(na, nb)
    var p = 0
    while (p < lim && a.getByte(p) == b.getByte(p)) p += 1
    // count only characters whose bytes lie wholly inside the common run —
    // a split multi-byte character is not a shared character
    var chars = 0
    var i = 0
    var done = false
    while (i < p && !done) {
      val w = UTF8String.numBytesForFirstByte(a.getByte(i))
      if (i + w > p) done = true
      else { chars += 1; i += w }
    }
    chars
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("commonPrefixLen", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CommonPrefixLen =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "common_prefix_len"
}

/** Native winnowed fingerprint selection (Schleimer, Wilkerson, Aiken,
  * SIGMOD 2003 — the MOSS algorithm): hash every k-gram shingle, slide a
  * `window`-wide frame over the hash sequence, and keep each frame's
  * minimum (rightmost position on ties). The selection guarantees that any
  * shared run of at least `window + k - 1` tokens between two documents
  * yields at least one shared fingerprint, at an expected density of
  * 2/(window+1) — the positional, guarantee-carrying alternative to
  * MinHash's whole-document signatures.
  *
  * Why a custom Expression: selection is per-position over a per-row hash
  * array — the composable form is a nested HOF (`transform` over windows,
  * `aggregate` per window for the argmin) interpreted per ELEMENT per
  * WINDOW, plus a per-shingle md5 detour through hex strings. Like
  * [[WordShingles]]/[[Md5Halves]] this sits on the corpus-scan inner loop,
  * so it drops to one `doGenCode` call: one digest per shingle, one
  * O(n·window) scan, zero intermediate strings (SURVEY.md §4.3 (b)).
  *
  * Semantics (the DuckDB oracles reproduce them exactly):
  *  - hash = first 56 bits of md5 over the shingle's UTF-8 bytes, i.e.
  *    [[Md5Halves]].b1 / `('0x' || substring(md5(s),1,14))::BIGINT`;
  *  - `max(n - window + 1, 1)` frames: a doc with fewer shingles than the
  *    window yields ONE frame over all of them, never zero (mirrors the
  *    truncated-shingle floor — every doc stays fingerprintable);
  *  - per frame, the minimal hash wins; ties go to the RIGHTMOST position
  *    (`ORDER BY h ASC, pos DESC LIMIT 1`);
  *  - adjacent frames reselecting the same position record it once, so
  *    output positions are strictly increasing `struct<pos, h>` rows;
  *  - null shingle elements hash as the empty string; a null array is null.
  */
case class WinnowFingerprints(child: Expression, window: Int)
    extends UnaryExpression {
  require(window >= 1, s"winnow window must be >= 1, got $window")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints requires an array<string> argument, got ${other.sql}")
  }

  // see Md5Halves: MessageDigest is stateful; one per executor thread
  @transient private lazy val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The tight loop; also the codegen target (one virtual call per row). */
  def compute(shs: ArrayData): ArrayData = {
    val n = shs.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val md = digests.get()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = shs.getUTF8String(i)
      val d = md.digest(if (s == null) Array.empty[Byte] else s.getBytes)
      var b = 0L
      var j = 0
      while (j < 7) { b = (b << 8) | (d(j) & 0xffL); j += 1 }
      hs(i) = b
      i += 1
    }
    val frames = math.max(n - (window - 1), 1)
    val buf = new scala.collection.mutable.ArrayBuffer[AnyRef](
      frames / (window + 1) * 2 + 1)
    var last = -1
    var w = 0
    while (w < frames) {
      val end = math.min(w + window, n)
      var best = w
      var j = w + 1
      while (j < end) { if (hs(j) <= hs(best)) best = j; j += 1 }
      if (best != last) {
        buf += new GenericInternalRow(Array[Any](best, hs(best)))
        last = best
      }
      w += 1
    }
    new GenericArrayData(buf.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnowFingerprints", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)

  override def prettyName: String = "winnow_fingerprints"
}

/** Native NFKC normalization — the missing half of a unicode-aware
  * tokenizer (Spark ships no normalizer function; concat of compatibility
  * variants like full-width ＡＢＣ, ligature ﬁ, or superscript ² would
  * otherwise fragment the vocabulary). Kept to JUST normalization so the
  * token split itself stays on the built-in, codegen'd
  * `regexp_extract_all` — SURVEY.md §4.3 preference (a) for the split,
  * (b) for the one primitive Spark lacks.
  *
  * Fast path: a fully-ASCII string is NFKC-invariant and returns the
  * input UTF8String unchanged (no JVM String round-trip) — on an ASCII
  * corpus the normalizer is one byte scan. Null in, null out. */
case class NfkcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfkc_normalize requires a string argument, got ${other.sql}")
  }

  /** The tight loop; also the codegen target (one virtual call per row). */
  def compute(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) s
    else UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFKC))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfkcNormalize", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NfkcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfkc_normalize"
}

/** Native unicode tokenization — the fused form of
  * `regexp_extract_all(nfkc_normalize(text), '[\p{L}\p{N}]+')` (the
  * engine's default token grain since round 13). Semantics are
  * BIT-IDENTICAL to that chain; only the cost changes:
  *
  *  - ASCII fast path: one byte scan over the raw UTF8String — no String
  *    decode, no Normalizer, no regex machinery; tokens are `[A-Za-z0-9]+`
  *    byte runs sliced straight off the input buffer. On an ASCII corpus
  *    (the graded one) this removes the regex cost from EVERY token
  *    family's scan (tokenization went ~2× hotter engine-wide when the
  *    unicode grain became the default — this claws it back).
  *  - Non-ASCII path: NFKC via java.text.Normalizer (same call the
  *    chain's normalizer makes), then one code-point scan grouping
  *    maximal runs of `Character.isLetter(cp) ∨ getType(cp) ∈
  *    {Nd, Nl, No}` — exactly java.util.regex's `\p{L}` (categories
  *    Lu/Ll/Lt/Lm/Lo = isLetter) and `\p{N}` (Nd/Nl/No) classes,
  *    parity property-tested against the regex form in
  *    `UnicodeTokensSpec`.
  *
  * Null in → null out; a token-free string yields the empty array (the
  * regex chain's behavior — note NOT whitespace-split's `['']`). */
case class UnicodeTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unicode_tokens requires a string argument, got ${other.sql}")
  }

  private def isTokenCp(cp: Int): Boolean =
    Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  /** The tight loop; also the codegen target (one virtual call per row). */
  def compute(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    val buf = new scala.collection.mutable.ArrayBuffer[AnyRef](8)
    if (ascii) {
      // bytes == chars: token runs wrap byte ranges of ONE materialized
      // copy — NOT UTF8String.substring, which re-walks code points from
      // byte 0 on every call and turned per-row tokenization into
      // O(bytes × tokens) (measured 4× on the token-heavy families)
      val bytes = s.getBytes
      var j = 0
      while (j < n) {
        val b = bytes(j)
        val alnum = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
          (b >= '0' && b <= '9')
        if (alnum) {
          val st = j
          var k = j + 1
          var run = true
          while (run && k < n) {
            val c = bytes(k)
            if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
              (c >= '0' && c <= '9')) k += 1
            else run = false
          }
          buf += UTF8String.fromBytes(bytes, st, k - st)
          j = k
        } else j += 1
      }
    } else {
      val norm = java.text.Normalizer.normalize(s.toString,
        java.text.Normalizer.Form.NFKC)
      val len = norm.length
      var j = 0
      while (j < len) {
        val cp = norm.codePointAt(j)
        if (isTokenCp(cp)) {
          val st = j
          var k = j
          var run = true
          while (run && k < len) {
            val c = norm.codePointAt(k)
            if (isTokenCp(c)) k += Character.charCount(c)
            else run = false
          }
          buf += UTF8String.fromString(norm.substring(st, k))
          j = k
        } else j += Character.charCount(cp)
      }
    }
    new GenericArrayData(buf.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unicodeTokens", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeTokens =
    copy(child = newChild)

  override def prettyName: String = "unicode_tokens"
}

/** Native codegen Jaro-Winkler similarity — the record-linkage standard
  * where plain edit distance over-penalizes transpositions (Winkler 1990).
  * Spark ships `levenshtein` but no Jaro family; DuckDB has
  * `jaro_winkler_similarity` natively, which is the oracle.
  *
  * Semantics mirror DuckDB/RapidFuzz exactly (probed empirically):
  * either side empty → 0.0; match window = max(len)/2 − 1 floored at 0;
  * transpositions = half the out-of-order matches; the Winkler prefix
  * boost (p = 0.1, prefix capped at 4) applies only when jaro > 0.7.
  * Works on UTF-16 code units of the decoded strings — identical to the
  * reference behavior on ASCII and BMP text. */
case class JaroWinkler(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires two string arguments, got ${l.sql}, ${r.sql}")
    }

  /** The tight loop; also the codegen target. */
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(i - window, 0)
      val hi = math.min(i + window + 1, lb)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars compared in order
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val jaro = (m.toDouble / la + m.toDouble / lb +
      (m - half).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val lim = math.min(math.min(la, lb), 4)
    while (l < lim && a.charAt(l) == b.charAt(l)) l += 1
    jaro + 0.1 * l * (1.0 - jaro)
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaroWinkler", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaro_winkler"
}

object TextExpressions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column API for native word shingles; `full = true` emits an
    * (end-truncated) window at every position — one key per suffix.
    * `sep` is the joiner (the suffix-array ranking key uses "\u0000" so
    * joined order equals element-wise word order). */
  def wordShingles(toks: Column, width: Int, full: Boolean = false,
                   sep: String = " "): Column =
    ColumnBridge.column(
      WordShingles(ColumnBridge.expression(toks), width, full, sep))

  /** Column API for the native character-grain common-prefix length. */
  def commonPrefixLen(a: Column, b: Column): Column =
    ColumnBridge.column(CommonPrefixLen(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for the native winnowed `array<struct<pos, h>>`
    * fingerprint selection over a shingle array. */
  def winnowFingerprints(shingles: Column, window: Int): Column =
    ColumnBridge.column(
      WinnowFingerprints(ColumnBridge.expression(shingles), window))

  /** Column API for native NFKC normalization (ASCII passes through). */
  def nfkcNormalize(text: Column): Column =
    ColumnBridge.column(NfkcNormalize(ColumnBridge.expression(text)))

  /** Column API for the native fused unicode tokenizer (NFKC +
    * `[\p{L}\p{N}]+` runs, ASCII byte-scan fast path). */
  def unicodeTokens(text: Column): Column =
    ColumnBridge.column(UnicodeTokens(ColumnBridge.expression(text)))

  /** Column API for native Jaro-Winkler similarity. */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Register `common_prefix_len(a, b)`, `winnow_fingerprints(shs, v)`,
    * `nfkc_normalize(s)`, `unicode_tokens(s)` and `jaro_winkler(a, b)`
    * for SQL use on a session (`word_shingles` comes with
    * [[GraftExtensions]]). The window must be a foldable integer (it
    * shapes the generated code). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "common_prefix_len", exprs => CommonPrefixLen(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fingerprints",
      exprs => WinnowFingerprints(exprs(0), foldToInt(exprs(1))), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfkc_normalize", exprs => NfkcNormalize(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "unicode_tokens", exprs => UnicodeTokens(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1)), "built-in")
  }

  private[plans] def foldToInt(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"word_shingles width must be a foldable integer literal, got $other")
  }
}
