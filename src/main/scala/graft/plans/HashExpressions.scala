package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash of a string, `fold((acc, c) =>
  * (acc * 31 + codepoint(c)) mod 1e9+7, 0)` over the characters — the
  * content fingerprint behind shingle/token ids and document identity
  * (reference analogue: content-hash dedup keys; SURVEY §7.5
  * fingerprinting).
  *
  * This is the codegen'd form of the higher-order-function pipeline
  * `aggregate(transform(split(text, ''), c -> ascii(c)), ...)`, which
  * evaluates an interpreted lambda (plus a per-character array slot)
  * for every character; the corpus pays that per *shingle* character in
  * t03/t04, making it the dominant cost. Identical result by
  * construction: Spark's `split(text, '')` yields one element per
  * codepoint (regex boundaries never split surrogate pairs) and
  * `ascii` returns the leading codepoint, so a straight codepoint loop
  * reproduces the fold exactly (HashExprSpec proves equality against
  * the HOF form; the DuckDB oracle computes the same fold via
  * `list_reduce(string_split(text, ''), ...)`).
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(a: Any): Any =
    RollingHash.hash(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.RollingHash.hash($a)")

  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** k-token shingle array of a space-delimited string: one row-level
  * call that splits once and assembles each window in a tight loop —
  * the codegen'd replacement for both the window-function form (which
  * shuffles and sorts every token in the corpus) and the
  * transform/slice HOF form (an interpreted lambda per shingle).
  * Token semantics identical to `split(text, ' ')` with Spark's
  * default -1 limit (empty tokens from doubled spaces are kept).
  */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def prettyName: String = "shingles"

  override protected def nullSafeEval(a: Any): Any =
    Shingles.shingle(a.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.Shingles.shingle($a, $k)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object Shingles {
  def shingle(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = s.toString.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object RollingHash {
  /** Static helper shared by interpreted eval and generated code (one
    * monomorphic call site per row; the loop itself JITs tight). ASCII
    * fast path reads the UTF-8 bytes directly — no String allocation. */
  def hash(s: UTF8String): Long = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var acc = 0L
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b < 0) ascii = false
      else { acc = (acc * 31 + b) % 1000000007L; i += 1 }
    }
    if (ascii) acc
    else {
      // multibyte tail: fall back to per-codepoint iteration
      val str = s.toString
      acc = 0L
      var j = 0
      while (j < str.length) {
        val cp = str.codePointAt(j)
        acc = (acc * 31 + cp) % 1000000007L
        j += Character.charCount(cp)
      }
      acc
    }
  }
}

/** Winnowed fingerprint selection (Schleimer et al.) in one row-level
  * pass: k-gram rolling hashes in document order, per-w-window minima,
  * first-occurrence-distinct — the codegen'd replacement for the
  * transform(shingles)/slice/array_min HOF chain, which pays an
  * interpreted lambda per gram AND per window. Gram assembly and hash
  * are bit-identical to [[Shingles]] + [[RollingHash]] (and thus to
  * the DuckDB oracle's list folds); window clamping matches
  * `slice(h, j, w)` semantics at the tail. */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(a: Any): Any =
    WinnowFps.winnow(a.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.WinnowFps.winnow($a, $k, $w)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object WinnowFps {
  def winnow(s: UTF8String, k: Int, w: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = s.toString.split(" ", -1)
    val n = toks.length - k + 1
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val h = new Array[Long](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      h(i) = RollingHash.hash(UTF8String.fromString(sb.toString))
      i += 1
    }
    // windows j..j+w-1 clamped at the tail (slice semantics); when the
    // doc has fewer grams than a window, the single window is the doc
    val nw = math.max(n - w + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    var j = 0
    while (j < nw) {
      var m = h(j)
      var t = j + 1
      val end = math.min(j + w, n)
      while (t < end) { if (h(t) < m) m = h(t); t += 1 }
      seen.add(m)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next().longValue(); p += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-row MinHash signature over the doc's distinct k-shingle ids in
  * one codegen'd pass (r21) — the map-side replacement for the
  * explode + groupBy pipeline `TextOps.minhash(shingleIds(docs, k))`:
  * every minhash is a per-doc min, so the (doc_id, i) aggregate's
  * corpus exchange is unnecessary. Arithmetic op-for-op the aggregate
  * form's (TextOpsSpec pins bit-equality): shingle ids are
  * [[RollingHash]] over the [[Shingles]] windows, deduped within the
  * doc; h_i = min over ids of (sid * ((2i+3)*524287 mod p) +
  * (5i+7)*8191) mod p. A doc too short to shingle yields an array of
  * `nHashes` NULLs — mirroring the aggregate form's absent rows: its
  * band signatures become NULL and can never collide. */
case class MinHashSigs(child: Expression, k: Int, nHashes: Int, p: Long)
    extends UnaryExpression {
  require(k >= 1 && nHashes >= 1 && p > 1)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def prettyName: String = "minhash_sigs"

  override protected def nullSafeEval(a: Any): Any =
    MinHashSigs.sigs(a.asInstanceOf[UTF8String], k, nHashes, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.plans.MinHashSigs.sigs($a, $k, $nHashes, ${p}L)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object MinHashSigs {
  /** Static helper shared by interpreted eval and generated code. */
  def sigs(s: UTF8String, k: Int, nHashes: Int, p: Long):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = s.toString.split(" ", -1)
    val n = toks.length - k + 1
    val out = new Array[Any](nHashes)
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    // distinct shingle ids (within-doc dedup — same set as
    // array_distinct over the hashed Shingles array; duplicates are
    // irrelevant to a min anyway, dedup just bounds the hash loop)
    val ids = new java.util.HashSet[java.lang.Long](n * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      ids.add(RollingHash.hash(UTF8String.fromString(sb.toString)))
      i += 1
    }
    var h = 0
    while (h < nHashes) {
      val a = (2L * h + 3L) * 524287L % p
      val b = (5L * h + 7L) * 8191L
      var m = Long.MaxValue
      val it = ids.iterator()
      while (it.hasNext) {
        val v = (it.next().longValue() * a + b) % p
        if (v < m) m = v
      }
      out(h) = m
      h += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-row 64-bit SimHash emitted as `bits/bandBits` band limbs in one
  * codegen'd pass — the map-side replacement (r21 optimization) for the
  * explode×bits + two-level-aggregate pipeline in
  * [[graft.text.TextOps.simhashBands]] fed by a (doc_id, tok)
  * count aggregate. That pipeline paid THREE corpus exchanges before a
  * signature existed (the (doc_id, tok) count, the (doc_id, j)
  * accumulate, the (doc_id, band) fold); every one of those groupBy
  * keys is doc-local, so the whole computation is a per-row quantity —
  * the same argument that moved shingling map-side
  * ([[graft.text.TextOps.distinctShingleCount]], ADVICE r7).
  *
  * Arithmetic is op-for-op the aggregate form's (TextOpsSpec pins
  * bit-equality): token multiplicities within the row's
  * `split(text, ' ')` array, token id = [[RollingHash]] (multiplicity
  * keyed by tid directly — two tokens colliding on tid contribute
  * identically in both forms since the bit signs depend only on tid),
  * bit j's sign = ((tid*(2j+3)+j) % 97 % 2)*2-1, acc_j = Σ cnt·sign
  * (integer sums — order-free), limb b = Σ_{j∈band b, acc_j>0}
  * 1L << (j % bandBits). The DuckDB oracle mirror is unchanged. */
case class SimHashLimbs(child: Expression, bits: Int, bandBits: Int)
    extends UnaryExpression {
  require(bits % bandBits == 0 && bandBits < 63,
    s"simhash_limbs: bits=$bits bandBits=$bandBits")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def prettyName: String = "simhash_limbs"

  override protected def nullSafeEval(a: Any): Any =
    SimHashLimbs.limbs(a.asInstanceOf[UTF8String], bits, bandBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.SimHashLimbs.limbs($a, $bits, $bandBits)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object SimHashLimbs {
  /** Static helper shared by interpreted eval and generated code. */
  def limbs(s: UTF8String, bits: Int, bandBits: Int):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = s.toString.split(" ", -1)
    // multiplicity per token id (not per token string): the bit signs
    // are a function of tid alone, so same-tid tokens contribute
    // identically whether counted together or separately
    val cnt = new java.util.HashMap[java.lang.Long, Array[Long]](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val tid = java.lang.Long.valueOf(
        RollingHash.hash(UTF8String.fromString(toks(i))))
      val prev = cnt.get(tid)
      if (prev == null) cnt.put(tid, Array(1L)) else prev(0) += 1L
      i += 1
    }
    val acc = new Array[Long](bits)
    val it = cnt.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val tid = e.getKey.longValue()
      val c = e.getValue()(0)
      var j = 0
      while (j < bits) {
        // tid < 1e9+7 and (2j+3) <= 131 keep the product far from 2^63
        val sign = (tid * (2L * j + 3L) + j) % 97L % 2L * 2L - 1L
        acc(j) += c * sign
        j += 1
      }
    }
    val nLimbs = bits / bandBits
    val out = new Array[Any](nLimbs)
    var b = 0
    while (b < nLimbs) {
      var v = 0L
      var j = b * bandBits
      val end = j + bandBits
      while (j < end) {
        if (acc(j) > 0) v |= 1L << (j % bandBits)
        j += 1
      }
      out(b) = v
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Unicode NFC normalization — the canonical-composition pass every
  * corpus pipeline runs before hashing/dedup (decomposed "e +
  * COMBINING ACUTE" and composed "é" must fingerprint identically, or
  * near-dup and decontamination joins silently miss). Codegen'd
  * UnaryExpression over java.text.Normalizer with an
  * already-normalized fast path (ASCII input returns the input
  * UTF8String untouched — no String round-trip). DuckDB's
  * `nfc_normalize` implements the same UAX #15 form, so the operator
  * is oracle-checkable. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(a: Any): Any =
    NfcNormalize.nfc(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.NfcNormalize.nfc($a)")

  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Content-defined chunking (the LBFS/FastCDC family, pure form): cut
  * the text wherever the polynomial rolling hash of the trailing `w`
  * codepoints is ≡ 0 mod `divisor` (expected chunk length ≈ divisor).
  * Boundaries depend ONLY on the local window — no state carries
  * across cuts — so an insertion or deletion reshapes O(1) chunks and
  * identical runs shared across documents chunk identically at ANY
  * offset, which is exactly what fixed-size chunking lacks and why
  * storage/dedup systems cut this way. Emits the chunk array
  * (concatenation reconstructs the input; texts of ≤ w codepoints are
  * one chunk). Same 31/1e9+7 hash family as [[RollingHash]], so the
  * DuckDB oracle replays boundaries exactly via per-position
  * `list_reduce` folds (HashExprSpec pins the window identity
  * H(p) = fold(chars[p-w, p))). One O(n) codegen'd loop per row —
  * embarrassingly parallel, no shuffle. */
case class CdcChunks(child: Expression, w: Int, divisor: Long)
    extends UnaryExpression {
  require(w >= 1 && divisor >= 1, s"cdc_chunks: w=$w divisor=$divisor")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
  override def prettyName: String = "cdc_chunks"

  override protected def nullSafeEval(a: Any): Any =
    CdcChunks.chunks(a.asInstanceOf[UTF8String], w, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.CdcChunks.chunks($a, $w, ${divisor}L)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object CdcChunks {
  private val M = 1000000007L

  /** Static helper shared by interpreted eval and generated code.
    * Codepoint-indexed (like [[RollingHash]]'s fold), so boundaries
    * match the oracle's `string_split(text,'')` positions on any
    * input; the chunk substrings are cut on codepoint boundaries. */
  def chunks(s: UTF8String, w: Int, divisor: Long): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val nChars = str.length
    // codepoint array + the char offset where each codepoint starts
    // (charIdx(i) = char index of codepoint i; charIdx(n) = nChars)
    var n = 0
    var ci = 0
    while (ci < nChars) { n += 1; ci += Character.charCount(str.codePointAt(ci)) }
    if (n <= w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](s))
    val cps = new Array[Int](n)
    val charIdx = new Array[Int](n + 1)
    var i = 0
    ci = 0
    while (ci < nChars) {
      val cp = str.codePointAt(ci)
      cps(i) = cp; charIdx(i) = ci
      i += 1; ci += Character.charCount(cp)
    }
    charIdx(n) = nChars
    // 31^(w-1) mod M for the sliding subtraction
    var pow = 1L
    var j = 0
    while (j < w - 1) { pow = pow * 31 % M; j += 1 }
    // hash of the first window [0, w)
    var h = 0L
    j = 0
    while (j < w) { h = (h * 31 + cps(j)) % M; j += 1 }
    // cut positions p in [w, n): window = codepoints [p-w, p)
    val cuts = new java.util.ArrayList[Integer]
    var p = w
    while (p < n) {
      if (h % divisor == 0) cuts.add(p)
      h = ((h - cps(p - w) * pow % M + M) * 31 + cps(p)) % M
      p += 1
    }
    val nc = cuts.size + 1
    val out = new Array[Any](nc)
    var prev = 0
    var k = 0
    while (k < nc) {
      val end = if (k < cuts.size) cuts.get(k).intValue else n
      out(k) = UTF8String.fromString(str.substring(charIdx(prev), charIdx(end)))
      prev = end
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Highest multiplicity of any element in a string array — the
  * per-row form of "count of the most repeated n-gram" behind the
  * Gopher-style repetition filters (top-2-gram / top-3-gram fraction,
  * Rae et al. 2021 Table A1): fed with the raw [[Shingles]] window
  * array (duplicates included) it yields the top n-gram's occurrence
  * count in one O(n) hash loop, so the whole repetition signal is
  * map-side — no explode, no per-doc aggregation, no shuffle (the
  * same scale argument as [[graft.text.TextOps.distinctShingleCount]]).
  * DuckDB replays it as
  * `list_max(map_values(list_aggregate(l, 'histogram')))`. */
case class MaxMultiplicity(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }
  override def prettyName: String = "max_multiplicity"

  override protected def nullSafeEval(a: Any): Any =
    MaxMultiplicity.maxMult(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.MaxMultiplicity.maxMult($a)")

  override protected def withNewChildInternal(c: Expression) = copy(c)
}

object MaxMultiplicity {
  /** Static helper shared by interpreted eval and generated code.
    * Null elements count as a value of their own (the Shingles feed
    * never produces them; containsNull = false). Empty array -> 0. */
  def maxMult(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      val k = arr.getUTF8String(i)
      val prev = counts.get(k)
      val c = if (prev == null) 1 else prev.intValue + 1
      counts.put(k, c)
      if (c > best) best = c
      i += 1
    }
    best.toLong
  }
}

object NfcNormalize {
  /** Static helper shared by interpreted eval and generated code.
    * Pure-ASCII bytes are NFC by definition — return the input object
    * without allocating; otherwise normalize through String (the
    * non-ASCII tail of a real corpus is small). */
  def nfc(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) < 0)
        ascii = false
      i += 1
    }
    if (ascii) s
    else {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }
  }
}

/** One BPE merge step inside a token array: every adjacent (w1, w2)
  * occurrence becomes the single token "w1_w2", scanning left to right
  * and resuming AFTER a merge (HuggingFace greedy sweep: pair (a,a) on
  * ["a","a","a"] yields ["a_a","a"], never ["a","a_a"]). The merges are
  * TRAINED pairs (t49's output) and therefore data, so they arrive as
  * broadcast columns, not literals — encoding stays fully distributed
  * with no driver collect. The DuckDB oracle mirrors this with
  * regexp_replace(text, '\bw1 w2\b', 'w1_w2', 'g') over the
  * space-joined tokens: RE2's global replace is the same left-to-right
  * non-overlapping sweep, and '_' is a word character, so boundaries
  * still align after earlier merge rounds. Null tokens are not
  * expected (inputs come from split). */
case class MergePair(toks: Expression, w1: Expression, w2: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = toks
  override def second: Expression = w1
  override def third: Expression = w2
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = toks.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _)
      if w1.dataType == StringType && w2.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, string, string), got " +
        s"(${toks.dataType.simpleString}, ${w1.dataType.simpleString}, " +
        s"${w2.dataType.simpleString})")
  }
  override def prettyName: String = "merge_pair"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    MergePair.merge(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[UTF8String], c.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c) => s"graft.plans.MergePair.merge($a, $b, $c)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) = copy(f, s, t)
}

object MergePair {
  private val underscore = UTF8String.fromString("_")

  /** Static helper shared by interpreted eval and generated code. */
  def merge(arr: org.apache.spark.sql.catalyst.util.ArrayData,
            w1: UTF8String, w2: UTF8String):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && arr.getUTF8String(i).equals(w1) &&
          arr.getUTF8String(i + 1).equals(w2)) {
        out.add(UTF8String.concat(w1, underscore, w2))
        i += 2
      } else {
        out.add(arr.getUTF8String(i))
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Per-row hot-set prune: the elements of a long array NOT present in
  * a sorted long array (binary search per element) — the map-side form
  * of `postings LEFT ANTI JOIN hot ON sid`, for hot sets small enough
  * to ship as one value (they already shipped whole as a broadcast
  * hash relation in the anti-join form; a sorted primitive array is
  * strictly smaller). Built for [[graft.text.TextOps.pairStatsImpl]]:
  * with the prune per-row, the per-doc SURVIVING-set size is
  * `size(...)` on the same row — the r21 `count() over (partition by
  * doc_id)` window (a full-posting corpus shuffle + sort) and the
  * anti-join both disappear from the pair generator. The right child
  * is expected foldable (a scalar subquery / literal); eval cost is
  * O(n log h) per row, no per-row set construction. Both arrays must
  * declare `containsNull = false` (the eval reads slots with `getLong`,
  * no null check); its one caller's inputs do — `array_distinct` over a
  * `transform` of non-null hashes, and `sort_array(collect_list(...))`. */
case class ArrayLongsNotInSorted(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = left.dataType
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case org.apache.spark.sql.types.ArrayType(LongType, false) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> arguments without null " +
        s"elements, got ${left.dataType}, ${right.dataType}")
  }
  override def prettyName: String = "array_longs_not_in_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayLongsNotInSorted.filter(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.ArrayLongsNotInSorted.filter($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object ArrayLongsNotInSorted {
  /** Static helper shared by interpreted eval and generated code. */
  def filter(arr: org.apache.spark.sql.catalyst.util.ArrayData,
             hot: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      if (!containsSorted(hot, v)) out.add(v)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  private def containsSorted(
      hot: org.apache.spark.sql.catalyst.util.ArrayData, v: Long): Boolean = {
    var lo = 0
    var hi = hot.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val x = hot.getLong(mid)
      if (x == v) return true
      if (x < v) lo = mid + 1 else hi = mid - 1
    }
    false
  }
}
