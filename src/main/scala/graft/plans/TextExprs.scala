package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Native text-sketch expressions (SURVEY.md §4 tier (b)), sibling of
  * [[VecExprs]].
  */
object TextExprs {

  /** Full MinHash signature of a shingle array in ONE pass: per shingle,
    * hash once (the same `XxHash64Function` the builtin `xxhash64` calls,
    * seed 42) and update all k running minima — replacing k separate
    * interpreted `array_min(transform(...))` lambda folds, each of which
    * re-walks the array and allocates an intermediate copy.
    *
    * Parity contract with the expression form it replaces
    * (`array_min(transform(base, h -> pmod(h·a_i + b_i, P)))` over
    * `base = transform(sh, s -> pmod(xxhash64(s), P))`):
    * identical hash (same function, same seed), identical pmod arithmetic
    * (all operands non-negative after the first pmod, products < 2⁶⁰ — no
    * overflow under ANSI), null shingles hash to the SEED exactly as the
    * builtin `xxhash64(null)` does (hash expressions skip null inputs and
    * return the running seed), empty input → all-null signature exactly as
    * `array_min(empty) = null`, and a NULL input ARRAY → all-null signature
    * too (`transform(NULL)` nulls each slot but the outer `array(...)`
    * constructor never returns SQL NULL).
    */
  def minhashSig(arr: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val k = a.length
    val n = if (arr == null) 0 else arr.numElements()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h0 =
        if (arr.isNullAt(i)) 42L // xxhash64(null) = seed
        else XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      val h = ((h0 % p) + p) % p
      var j = 0
      while (j < k) {
        val v = (h * a(j) + b(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    if (n == 0) new GenericArrayData(new Array[Any](k)) // all-null, as array_min(empty)
    else new GenericArrayData(mins)
  }

  /** All `bands` LSH band hashes of a minhash signature in ONE pass —
    * bit-parity with the per-band composition
    * `xxhash64(concat_ws(",", transform(slice(sig, j·r+1, r), cast string)))`
    * (round 19; the composition ran as interpreted lambdas allocating a
    * string per element per band). Same digits (Long.toString), same
    * separator skipping for null elements (concat_ws drops nulls without
    * doubling the separator), same seed-42 xxhash64 over the joined UTF-8
    * bytes; a NULL signature array yields xxhash64("") per band exactly as
    * `concat_ws` over a null array argument does. Positions at or beyond the
    * signature's length are absent, as `slice` leaves them out, so a short
    * signature hashes its missing bands as xxhash64("").
    */
  def bandHashes(sig: ArrayData, bands: Int, r: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j < bands) {
      sb.setLength(0)
      var first = true
      var i = 0
      while (i < r) {
        val idx = j * r + i
        if (idx < n && !sig.isNullAt(idx)) {
          if (!first) sb.append(',')
          sb.append(sig.getLong(idx))
          first = false
        }
        i += 1
      }
      out(j) = XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), StringType, 42L)
      j += 1
    }
    new GenericArrayData(out)
  }

  private val EmptyArray: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Space-joined n-grams of a token array in ONE pass, optionally distinct
    * (first-occurrence order — exactly `array_distinct`'s). Bit-parity with
    * the higher-order form it replaces
    * (`zip_with(slice...,slice..., concat)` chains): a null token nulls its
    * n-grams (as `concat` null-propagates), fewer than n tokens → EMPTY
    * array (as the `when(size >= n, ...)` guard), and a NULL input array →
    * empty array (ANSI `size(NULL) >= n` is NULL → otherwise branch).
    */
  def ngrams(arr: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    if (arr == null) return EmptyArray
    val len = arr.numElements()
    val out = len - n + 1
    if (out <= 0) return EmptyArray
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    if (!distinct) {
      val res = new Array[Any](out)
      i = 0
      while (i < out) {
        res(i) = joinGram(toks, i, n, space)
        i += 1
      }
      new GenericArrayData(res)
    } else {
      // LinkedHashSet ≡ array_distinct: keep first occurrence, in order.
      // UTF8String#equals/hashCode are byte-wise, so set semantics match
      // Spark's binary string equality; at most one null survives (a null
      // n-gram equals every other null n-gram, as in array_distinct).
      val seen = new java.util.LinkedHashSet[Any]()
      i = 0
      while (i < out) {
        seen.add(joinGram(toks, i, n, space))
        i += 1
      }
      val res = new Array[Any](seen.size)
      val it = seen.iterator()
      i = 0
      while (it.hasNext) { res(i) = it.next(); i += 1 }
      new GenericArrayData(res)
    }
  }

  /** Character n-grams of ONE string in one pass (round 12): code-point
    * offsets are decoded ONCE, then each gram is a byte-range slice — the
    * expression form it replaces (`transform(sequence(1, length-n+1),
    * i -> substring(s, i, n))`) re-scans from byte 0 for EVERY position
    * (UTF8String.substring walks i code points to find the start), i.e.
    * O(len²) per document interpreted vs O(len) here codegen'd. The sf3
    * sweep caught text_langid_ngram serializing on exactly that (a
    * multi-minute single-task straggler). Bit-parity: substring counts
    * CODE POINTS, so grams slice at code-point boundaries; fewer than n
    * chars → empty array; NULL input → empty array (the `CASE WHEN
    * length(norm) >= n ... ELSE array() END` guard under ANSI).
    */
  def charNgrams(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    if (s == null) return EmptyArray
    val numChars = s.numChars()
    val out = numChars - n + 1
    if (out <= 0) return EmptyArray
    val bytes = s.getBytes
    val offs = new Array[Int](numChars + 1)
    var i = 0
    var c = 0
    while (c < numChars) {
      offs(c) = i
      i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    offs(numChars) = bytes.length
    val res = new Array[Any](out)
    var j = 0
    while (j < out) {
      val start = offs(j)
      val len = offs(j + n) - start
      val gram = new Array[Byte](len)
      System.arraycopy(bytes, start, gram, 0, len)
      res(j) = org.apache.spark.unsafe.types.UTF8String.fromBytes(gram)
      j += 1
    }
    new GenericArrayData(res)
  }

  /** Count of array elements that belong to a small literal set (round 12):
    * the codegen'd twin of `size(filter(arr, x -> array_contains(set, x)))`
    * — the higher-order form is an interpreted CodegenFallback that also
    * breaks the surrounding whole-stage span. Duplicate occurrences count
    * every time (as filter keeps them); null elements never match (as
    * `array_contains(set, null)` is NULL → dropped). Set membership is one
    * hash probe per element (UTF8String equality is byte-wise — Spark's
    * binary string equality).
    */
  def countInSet(arr: ArrayData, set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]): Long = {
    val n = arr.numElements()
    var cnt = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  /** Byte-level split on a single ASCII space — bit-parity with the builtin
    * `split(s, " ")` (= Java `String.split(" ", -1)`, the single-char
    * non-regex fast path): consecutive spaces yield empty tokens, a leading
    * space yields a leading empty token, trailing empties are KEPT
    * (limit −1), and empty input yields `[""]`. The builtin decodes the
    * whole string to UTF-16, allocates a `java.lang.String` per token and
    * re-encodes each one back to UTF-8; this kernel walks the bytes once
    * and emits ZERO-COPY `fromBytes` slices of the input's array (0x20
    * never occurs inside a UTF-8 multibyte sequence, so byte slicing is
    * code-point safe). SpaceSplitSpec pins kernel ≡ builtin on the edge
    * literals and generated strings.
    */
  def spaceSplit(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0)
      return new GenericArrayData(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8))
    var cnt = 1
    var i = 0
    while (i < n) { if (bytes(i) == 0x20) cnt += 1; i += 1 }
    val out = new Array[Any](cnt)
    var start = 0
    var k = 0
    i = 0
    while (i < n) {
      if (bytes(i) == 0x20) {
        out(k) = org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes, start, i - start)
        k += 1
        start = i + 1
      }
      i += 1
    }
    out(k) = org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes, start, n - start)
    new GenericArrayData(out)
  }

  /** `size(split(s, " "))` without materializing the token array: a
    * single-space split yields exactly (#0x20 bytes) + 1 elements for ANY
    * input — "" → [""] → 1, consecutive/leading/trailing spaces keep their
    * empty tokens — and 0x20 never occurs inside a UTF-8 multibyte
    * sequence, so counting bytes equals counting separators. One byte pass,
    * zero allocation (round 19; SpaceTokenCountSpec pins the identity).
    * A NULL string counts −1, `size(NULL)` under the legacy `sizeOfNull`
    * rule; [[SpaceTokenCount]] passes NULL here only under that rule.
    */
  def spaceTokenCount(s: org.apache.spark.unsafe.types.UTF8String): Int = {
    if (s == null) return -1
    val n = s.numBytes()
    var cnt = 1
    var i = 0
    while (i < n) { if (s.getByte(i) == 0x20) cnt += 1; i += 1 }
    cnt
  }

  /** Left-to-right fold `acc += m[token]` over a token array — the native
    * twin of `aggregate(w, 0.0D, (acc, tk) -> acc + element_at(m, tk))`
    * over a literal map (round 18). The builtin chain is DOUBLY interpreted:
    * ArrayAggregate is a CodegenFallback (breaks the whole-stage span) and
    * `element_at` on a map literal is a LINEAR scan of the key array per
    * token (ArrayBasedMapData has no hash index) — O(|w|·|vocab|) string
    * compares per document. This kernel probes a real HashMap (UTF8String
    * equality is byte-wise, same as map-literal key equality) and adds in
    * the identical left-to-right IEEE order, so sums are bit-identical.
    * NULL contract exactly as the fold: a null token or a token absent from
    * the map nulls the whole result (acc + NULL = NULL and stays NULL);
    * empty array → 0.0 (the seed). Returns a boxed Double or null.
    */
  def sumMapVals(
      arr: ArrayData,
      m: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Double])
    : java.lang.Double = {
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val v = m.get(arr.getUTF8String(i))
      if (v == null) return null
      acc += v.doubleValue()
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Elements of a string array that belong to a small literal set, order
    * and multiplicity preserved — the codegen'd twin of
    * `filter(arr, x -> x.isin(set))` (round 18, the rank_bm25 tokenize
    * pass): the higher-order filter is an interpreted CodegenFallback.
    * Null elements never survive (isin(null) is NULL → not true →
    * dropped), exactly like the lambda.
    */
  def keepInSet(
      arr: ArrayData,
      set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[Any](8)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        if (set.contains(s)) out.add(s)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Fused token-count + set-membership pass over a space-normalized
    * string (round 19, rank_bm25's tokenize stage): ONE walk over the bytes
    * yields `dl` = size(split(s, " ")) (= #0x20 + 1, any input) and
    * `mtoks` = keepInSet(split(s, " "), set) — zero-copy slices are
    * allocated only for probe objects and survive only on match, so the
    * full token array never materializes. Bit-parity with the composed
    * chain (MatchTokensParitySpec): empty tokens are probed like the
    * builtin split emits them, order and duplicates preserved.
    */
  def matchTokens(
      s: org.apache.spark.unsafe.types.UTF8String,
      set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String])
    : org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[Any](4)
    var dl = 1
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        val tok = org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes, start, i - start)
        if (set.contains(tok)) out.add(tok)
        if (i < n) dl += 1
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](dl, new GenericArrayData(out.toArray)))
  }

  /** Non-overlapping n-word segments of a token array, space-joined — the
    * codegen'd twin of text_seg_dedup's
    * `transform(sequence(1, (size(w)+n-1) div n),
    *            i -> array_join(slice(w, (i-1)·n+1, n), ' '))`
    * composition (round 18), which ran INTERPRETED per document (transform
    * and array_join are CodegenFallback) and TWICE (the frequency and
    * membership consumers deliberately re-derive it — the r13 negative).
    * Parity: the last segment is shorter (slice clamps), null tokens are
    * SKIPPED by the join without doubling the separator (array_join
    * semantics), a NULL input array yields NULL (`size(null)` nulls the
    * sequence), and the unreachable size-0 input yields the composition's
    * descending-sequence artifact `["", ""]` (spaceSplit never returns an
    * empty array). SegmentsParitySpec pins kernel ≡ composition.
    */
  def wordSegments(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len == 0)
      return new GenericArrayData(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8,
        org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8))
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val nSeg = (len + n - 1) / n
    val out = new Array[Any](nSeg)
    var g = 0
    while (g < nSeg) {
      val start = g * n
      val end = math.min(start + n, len)
      val toks = new Array[org.apache.spark.unsafe.types.UTF8String](end - start)
      var i = start
      while (i < end) {
        toks(i - start) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
        i += 1
      }
      // concatWs skips nulls without doubling the separator — array_join's
      // exact contract when no nullReplacement is given
      out(g) = org.apache.spark.unsafe.types.UTF8String.concatWs(space, toks: _*)
      g += 1
    }
    new GenericArrayData(out)
  }

  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  private val PunctClass = java.util.regex.Pattern.compile("[\\p{L}\\p{N}\\s]")

  /** Punctuation count — code points that are NOT Unicode letters (\p{L}),
    * NOT Unicode numbers (\p{N}) and NOT Java-regex whitespace (\s, the
    * ASCII set) — in one pass, the kernel behind the quality-feature punct
    * ratio. The composition it replaces,
    * `length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", ""))`, runs the
    * regex engine per code point AND allocates the stripped copy per row
    * just to take its length; round 17's noop-sink bench exposed the
    * quality-feature pass at 56 s/500k docs at sf10 with this as a main
    * line.
    *
    * Parity contract, bit-identical by construction (the [[normText]]
    * discipline): ASCII-only input takes the byte fast path ([a-zA-Z0-9]
    * and [ \t\n\x0B\f\r] are exactly what \p{L}\p{N}\s match in ASCII);
    * ANY non-ASCII byte delegates the whole row to the identical compiled
    * pattern + code-point count — no re-implementation of Unicode
    * categories to drift. PunctParitySpec pins kernel ≡ composition on the
    * non-ASCII literals and property-generated strings.
    */
  def punctCount(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = s.numBytes()
    var cnt = 0L
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) { // non-ASCII byte → exact regex delegation
        val kept = PunctClass.matcher(s.toString).replaceAll("")
        return kept.codePointCount(0, kept.length).toLong
      }
      val alnum = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')
      val ws = b == 0x20 || (b >= 0x09 && b <= 0x0d)
      if (!alnum && !ws) cnt += 1
      i += 1
    }
    cnt
  }

  /** Normalized document text in ONE byte pass: `lower → trim → collapse
    * whitespace runs to a single space` — the kernel behind
    * [[graft.Tables.normText]], the primitive at the head of every text
    * query's plan. The builtin composition
    * `regexp_replace(trim(lower(s)), "\\s+", " ")` builds THREE transient
    * strings per row (lowercase copy, trimmed slice, regex StringBuffer)
    * and walks the text three times; at corpus scale the normalize pass is
    * the single largest CPU line in the text-query profile.
    *
    * Parity contract with that composition, BIT-IDENTICAL by construction:
    * - ASCII-only input (the fast path, one pass over the bytes): lower
    *   maps only A–Z (+32); trim strips 0x20 ONLY from both ends (exactly
    *   `UTF8String.trim`, which Spark's `trim` calls) — lowercasing first
    *   vs trimming first commute because ASCII lowercase never creates or
    *   destroys a space; each maximal run of Java-regex `\s` =
    *   [ \t\n\x0B\f\r] (ASCII-only without UNICODE_CHARACTER_CLASS, the
    *   flagless pattern Spark's regexp_replace compiles) becomes ONE 0x20.
    *   A leading tab run survives trim and collapses to a LEADING space —
    *   same as the builtin (trim removes spaces, not tabs).
    * - Any non-ASCII byte → the slow path DELEGATES to the same calls the
    *   builtins make: `CollationAwareUTF8String.toLowerCase` (what `lower`
    *   executes under UTF8_BINARY with the default ICU case mappings —
    *   per-codepoint simple mapping, so Σ→σ even word-finally, unlike
    *   String.toLowerCase's context-sensitive ς), `UTF8String.trim`, then
    *   the identical compiled pattern's `replaceAll(" ")`. No
    *   re-implementation to drift. NormTextSpec pins kernel ≡ builtin on
    *   adversarial Unicode fixtures plus ScalaCheck-generated strings.
    * NULL never reaches it: [[NormText]] maps NULL in to NULL out.
    */
  def normText(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      if (s.getByte(i) < 0) { // non-ASCII byte → exact builtin delegation
        val lowered =
          org.apache.spark.sql.catalyst.util.CollationAwareUTF8String.toLowerCase(s)
        return UTF8String.fromString(
          WsRun.matcher(lowered.trim.toString).replaceAll(" "))
      }
      i += 1
    }
    // ASCII fast path: trim bounds first (0x20 only), then one pass
    var start = 0
    while (start < n && s.getByte(start) == 0x20) start += 1
    var end = n
    while (end > start && s.getByte(end - 1) == 0x20) end -= 1
    val out = new Array[Byte](end - start)
    var o = 0
    i = start
    while (i < end) {
      val c = s.getByte(i)
      if (c == 0x20 || (c >= 0x09 && c <= 0x0d)) { // Java \s: space \t \n \x0B \f \r
        out(o) = 0x20; o += 1; i += 1
        while (i < end && {
          val w = s.getByte(i); w == 0x20 || (w >= 0x09 && w <= 0x0d)
        }) i += 1
      } else {
        out(o) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        o += 1; i += 1
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Order-independent 64-bit set fingerprint: the wrapping Long SUM of
    * `xxhash64(elem, seed)` over the array (null elements hash to the seed,
    * as the builtin does; a NULL array sums to 0). Commutative, so identical
    * shingle SETS fingerprint identically with NO array_sort + concat_ws +
    * md5 cascade (true-sf1 profile: that cascade was ~1.8 s of
    * pipeline_corpus_clean); two instances with independent seeds give a
    * 128-bit effective key.
    */
  def setHashSum(arr: ArrayData, seed: Long): Long = {
    if (arr == null) return 0L
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += (if (arr.isNullAt(i)) seed
              else XxHash64Function.hash(arr.getUTF8String(i), StringType, seed))
      i += 1
    }
    acc
  }

  /** Fused token-MULTISET fingerprint (round 19, dedup_token_sort): both
    * order-independent hash sums of `split(s, " ")` in one zero-copy byte
    * pass — the composed spaceSplit → 2×[[setHashSum]] chain allocated the
    * token array and walked it twice. Tokens are in-place slices (0x20
    * never occurs inside a UTF-8 multibyte sequence); per token both seeds'
    * hashes accumulate with the exact builtin entry point setHashSum uses.
    * NULL input → (0, 0), exactly `setHashSum(NULL array) = 0` per seed;
    * "" → one empty token, as split keeps it.
    */
  def tokenHashSums(
      s: org.apache.spark.unsafe.types.UTF8String,
      seed1: Long, seed2: Long): org.apache.spark.sql.catalyst.InternalRow = {
    if (s == null)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L))
    val len = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var acc1 = 0L
    var acc2 = 0L
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || s.getByte(i) == 0x20) {
        val slice = org.apache.spark.unsafe.types.UTF8String.fromAddress(
          base, off + start, i - start)
        acc1 += XxHash64Function.hash(slice, StringType, seed1)
        acc2 += XxHash64Function.hash(slice, StringType, seed2)
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](acc1, acc2))
  }

  /** Shannon entropy (natural log) of the token distribution of ONE array,
    * in a single pass: counts via a LinkedHashMap (byte-wise UTF8String
    * equality — Spark's binary string equality; null tokens form one group,
    * as `explode` + groupBy groups them), then `-Σ (c/len)·ln(c/len)` with
    * terms accumulated in FIRST-OCCURRENCE order (deterministic; the
    * aggregate form it replaces summed in nondeterministic shuffle order,
    * and both meet the oracle at 4-dp rounding). An empty array gives
    * null (SQL NULL, as for a NULL array: the aggregate form's docs vanish
    * there, explode of empty/NULL emits no rows).
    */
  def tokenEntropy(arr: ArrayData): java.lang.Double = {
    val len = arr.numElements()
    if (len == 0) return null
    val counts = new java.util.LinkedHashMap[Any, Int]()
    var i = 0
    while (i < len) {
      val k: Any = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      counts.put(k, counts.getOrDefault(k, 0) + 1)
      i += 1
    }
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / len
      acc += p * math.log(p)
    }
    java.lang.Double.valueOf(-acc)
  }

  /** Fused shingle-SET fingerprint of a normalized document in ONE zero-copy
    * byte pass (round 15): the two 64-bit order-independent hash sums of the
    * DISTINCT space-joined n-grams of `split(s, " ")`, fusing the
    * split → [[ngrams]](distinct) → 2×[[setHashSum]] cascade of
    * `pipeline_corpus_clean`'s Jaccard-1.0 fast path, which allocated a token
    * array, a byte-copied string per shingle, and a dedup set of those
    * copies per document.
    *
    * The fusion rests on one invariant: splitting on a single-character
    * separator and re-joining any `n` consecutive tokens with that same
    * character reproduces a CONTIGUOUS slice of the source string — so every
    * shingle is a (start, end) byte range of `s`, hashed in place
    * ([[UTF8String.fromAddress]] views, no copy) with the exact builtin
    * entry point `setHashSum` uses (`XxHash64Function.hash`). Dedup is by
    * byte-wise slice equality (UTF8String equals — Spark's binary string
    * equality), NOT by hash value, so the sums are bit-identical to the
    * composed form on arbitrary input, not just collision-free w.h.p.
    * UTF-8 continuation/lead bytes are ≥ 0x80, so scanning for 0x20 can
    * never split inside a multi-byte code point.
    *
    * Returns NULL when `s` is null or has fewer than `n` tokens — exactly
    * the rows whose composed shingle array is empty (`size(sh) === 0`, the
    * pipeline's always-kept "shingleless" branch); otherwise a (fp1, fp2)
    * struct. Note `split("", " ")` is `[""]` (one empty token, as Spark's
    * limit=-1 split keeps trailing empties), which the space-counting token
    * count reproduces: 0 spaces → 1 token.
    */
  def shingleSetHash(
      s: org.apache.spark.unsafe.types.UTF8String,
      n: Int, seed1: Long, seed2: Long): org.apache.spark.sql.catalyst.InternalRow = {
    if (s == null) return null
    val len = s.numBytes()
    var spaces = 0
    var i = 0
    while (i < len) {
      if (s.getByte(i) == 0x20) spaces += 1
      i += 1
    }
    val tokens = spaces + 1
    if (tokens < n) return null
    // starts(k) = byte offset of token k; virtual starts(tokens) = len + 1
    // so "starts(k) - 1" is uniformly the end of token k-1
    val starts = new Array[Int](tokens + 1)
    var k = 1
    i = 0
    while (i < len) {
      if (s.getByte(i) == 0x20) { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(tokens) = len + 1
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = tokens - n + 1
    val seen =
      new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](out * 2)
    var acc1 = 0L
    var acc2 = 0L
    i = 0
    while (i < out) {
      val st = starts(i)
      val slice = org.apache.spark.unsafe.types.UTF8String.fromAddress(
        base, off + st, starts(i + n) - 1 - st)
      if (seen.add(slice)) {
        acc1 += XxHash64Function.hash(slice, StringType, seed1)
        acc2 += XxHash64Function.hash(slice, StringType, seed2)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](acc1, acc2))
  }

  /** A literal string set as the byte-wise `UTF8String` set the membership
    * kernels probe.
    */
  private[plans] def utf8Set(set: Seq[String])
    : java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](set.size * 2)
    set.foreach(x => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(x)))
    s
  }

  /** concat-with-space of toks[i..i+n): null token → null gram (concat). */
  private def joinGram(
      toks: Array[org.apache.spark.unsafe.types.UTF8String],
      i: Int, n: Int,
      space: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    var j = 0
    while (j < n) {
      if (toks(i + j) == null) return null
      j += 1
    }
    if (n == 1) return toks(i)
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](2 * n - 1)
    j = 0
    while (j < n) {
      parts(2 * j) = toks(i + j)
      if (j < n - 1) parts(2 * j + 1) = space
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.concat(parts: _*)
  }
}

/** `minhash_sig(shingles)` — the k-hash MinHash signature as one kernel
  * call. Hash params are Seq-typed for structural equality (plan
  * canonicalization); the kernel sees primitive arrays. A NULL shingle array
  * yields k NULLs, as the expression form does, so the result is never
  * NULL.
  */
case class MinHashSig(child: Expression, a: Seq[Long], b: Seq[Long], prime: Long)
  extends NativeKernel(TextExprs.getClass, "minhashSig", ArrayType(StringType))
  with UnaryLike[Expression] {

  require(a.nonEmpty && a.length == b.length, "need matching a/b hash params")

  override protected def constants: Seq[Any] = Seq(a.toArray, b.toArray, prime)
  override protected def passNull: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `ngrams(tokens, n, distinct)` — space-joined n-grams as one kernel call,
  * replacing the interpreted higher-order cascade (`shingleSize` slices +
  * `zip_with` concat folds + `array_distinct`, each an interpreted lambda
  * walk with an intermediate array copy — higher-order functions are
  * CodegenFallback, so they also broke the surrounding whole-stage-codegen
  * span). Semantics are bit-identical to that form (see
  * [[TextExprs.ngrams]]); a NULL array yields an empty one, so the result is
  * never NULL. Used by `MinHashLsh.shingles` (distinct) and `text_bigrams`
  * (non-distinct).
  */
case class NGrams(child: Expression, n: Int, distinct: Boolean)
  extends NativeKernel(TextExprs.getClass, "ngrams", ArrayType(StringType))
  with UnaryLike[Expression] {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override protected def constants: Seq[Any] = Seq(n, distinct)
  override protected def passNull: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "ngrams"

  override protected def withNewChildInternal(newChild: Expression): NGrams =
    copy(child = newChild)
}

/** `token_entropy(tokens)` — per-row Shannon entropy of the token
  * distribution as one kernel call, replacing the two-shuffle aggregate form
  * (explode → (doc, token) count → per-doc Σ): the entire per-document
  * computation is row-local, so the query that uses it needs NO
  * corpus-sized shuffle at all. NULL or empty input → SQL NULL (such docs
  * vanish from the aggregate form's output; the caller filters NULL to
  * match).
  */
case class TokenEntropy(child: Expression)
  extends NativeKernel(TextExprs.getClass, "tokenEntropy", ArrayType(StringType))
  with UnaryLike[Expression] {

  override protected def nullResult: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "token_entropy"

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)
}

/** `norm_text(s)` — lower → trim → collapse-whitespace in one byte pass
  * (see [[TextExprs.normText]] for the bit-parity contract with the
  * `regexp_replace(trim(lower(s)), "\\s+", " ")` composition it replaces).
  * NULL in → NULL out, like the builtin chain.
  */
case class NormText(child: Expression)
  extends NativeKernel(TextExprs.getClass, "normText", StringType)
  with UnaryLike[Expression] {

  override def dataType: DataType = StringType
  override def prettyName: String = "norm_text"

  override protected def withNewChildInternal(newChild: Expression): NormText =
    copy(child = newChild)
}

/** `space_split(s)` — tokens of a single-space-separated string as one byte
  * pass (see [[TextExprs.spaceSplit]] for the bit-parity contract with the
  * `split(s, " ")` builtin it replaces). NULL in → NULL out, like the
  * builtin. Output type matches `StringSplit` (`array<string>` with
  * containsNull = false).
  */
case class SpaceSplit(child: Expression)
  extends NativeKernel(TextExprs.getClass, "spaceSplit", StringType)
  with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "space_split"

  override protected def withNewChildInternal(newChild: Expression): SpaceSplit =
    copy(child = newChild)
}

/** `band_hashes(sig, bands, r)` — all LSH band hashes of a minhash
  * signature as one kernel call (see [[TextExprs.bandHashes]] for the
  * bit-parity contract with the slice/cast/concat_ws/xxhash64 composition).
  * Output array is never NULL (the composition's outer transform runs over a
  * literal sequence), so a NULL signature reaches the kernel.
  */
case class BandHashes(child: Expression, bands: Int, r: Int)
  extends NativeKernel(TextExprs.getClass, "bandHashes", ArrayType(LongType))
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = Seq(bands, r)
  override protected def passNull: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

/** `space_token_count(s)` — `size(split(s, " "))` as one zero-allocation
  * byte pass (see [[TextExprs.spaceTokenCount]] for the identity). INT like
  * `size()`, with `Size`'s NULL rule: NULL in → −1 when
  * `legacySizeOfNull` (`spark.sql.legacy.sizeOfNull` with ANSI off), else
  * NULL. Like `Size`, the flag is captured from the active SQLConf when the
  * expression is built.
  */
case class SpaceTokenCount(child: Expression, legacySizeOfNull: Boolean)
  extends NativeKernel(TextExprs.getClass, "spaceTokenCount", StringType)
  with UnaryLike[Expression] {

  def this(child: Expression) = this(child, SQLConf.get.legacySizeOfNull)

  override protected def passNull: Boolean = legacySizeOfNull
  override def dataType: DataType = IntegerType
  override def prettyName: String = "space_token_count"

  override protected def withNewChildInternal(newChild: Expression): SpaceTokenCount =
    copy(child = newChild)
}

/** `punct_count(s)` — non-letter/number/whitespace code points in one pass
  * (see [[TextExprs.punctCount]] for the bit-parity contract with the
  * `length(regexp_replace(s, "[\\p{L}\\p{N}\\s]", ""))` composition it
  * replaces). NULL in → NULL out, like the composition.
  */
case class PunctCount(child: Expression)
  extends NativeKernel(TextExprs.getClass, "punctCount", StringType)
  with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def prettyName: String = "punct_count"

  override protected def withNewChildInternal(newChild: Expression): PunctCount =
    copy(child = newChild)
}

/** `set_hash_sum(arr, seed)` — order-independent set fingerprint as one
  * kernel call (see [[TextExprs.setHashSum]]); a NULL array sums to 0.
  */
case class SetHashSum(child: Expression, seed: Long)
  extends NativeKernel(TextExprs.getClass, "setHashSum", ArrayType(StringType))
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = Seq(seed)
  override protected def passNull: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "set_hash_sum"

  override protected def withNewChildInternal(newChild: Expression): SetHashSum =
    copy(child = newChild)
}

/** `char_ngrams(s, n)` — character n-grams of a string as one kernel call
  * (round 12), replacing the interpreted
  * `transform(sequence(1, length-n+1), i -> substring(s, i, n))` cascade
  * whose per-position substring re-scan made it O(len²) per document AND
  * broke the surrounding whole-stage-codegen span (higher-order functions
  * are CodegenFallback). Semantics are bit-identical to that form over
  * non-null input — code-point slicing, < n chars → empty — and a NULL
  * string yields an EMPTY array (the CASE guard's ELSE branch), so the
  * result is never SQL NULL. See [[TextExprs.charNgrams]].
  */
case class CharNGrams(child: Expression, n: Int)
  extends NativeKernel(TextExprs.getClass, "charNgrams", StringType)
  with UnaryLike[Expression] {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override protected def constants: Seq[Any] = Seq(n)
  override protected def passNull: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override protected def withNewChildInternal(newChild: Expression): CharNGrams =
    copy(child = newChild)
}

/** `count_in_set(arr, set)` — how many elements of an array<string> belong
  * to a small LITERAL set, as one kernel call (round 12): the twin of
  * `size(filter(arr, x -> array_contains(set, x)))`, which runs as an
  * interpreted CodegenFallback lambda. Duplicates count each occurrence
  * (filter keeps them); null elements never match (`array_contains(set,
  * null)` is NULL → dropped by filter); a NULL input array yields SQL NULL
  * (`size(filter(NULL, …))` is NULL under ANSI) so argmax-over-nulls
  * behavior is unchanged for callers with nullable text.
  */
case class CountInSet(child: Expression, set: Seq[String])
  extends NativeKernel(TextExprs.getClass, "countInSet", ArrayType(StringType))
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = Seq(TextExprs.utf8Set(set))
  override def dataType: DataType = LongType
  override def prettyName: String = "count_in_set"

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}

/** `sum_map_vals(w)` — the native fold behind `text_unigram_lm`'s
  * literal-map scoring (see [[TextExprs.sumMapVals]] for the bit-parity
  * contract with the `aggregate(w, 0.0D, (acc, tk) -> acc +
  * element_at(m, tk))` composition it replaces). NULL in → NULL out, and
  * an absent/null token nulls the result, exactly like the fold.
  */
case class SumMapVals(child: Expression, vocab: Seq[(String, Double)])
  extends NativeKernel(TextExprs.getClass, "sumMapVals", ArrayType(StringType))
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = {
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, java.lang.Double](vocab.size * 2)
    vocab.foreach { case (k, v) =>
      m.put(org.apache.spark.unsafe.types.UTF8String.fromString(k),
        java.lang.Double.valueOf(v))
    }
    Seq(m)
  }
  override protected def nullResult: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sum_map_vals"

  override protected def withNewChildInternal(newChild: Expression): SumMapVals =
    copy(child = newChild)
}

/** `word_segments(w, n)` — non-overlapping space-joined n-word segments as
  * one kernel call (see [[TextExprs.wordSegments]] for the parity contract
  * with the transform/slice/array_join composition it replaces). NULL in →
  * NULL out, like the composition.
  */
case class WordSegments(child: Expression, n: Int)
  extends NativeKernel(TextExprs.getClass, "wordSegments", ArrayType(StringType))
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = Seq(n)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_segments"

  override protected def withNewChildInternal(newChild: Expression): WordSegments =
    copy(child = newChild)
}

/** `keep_in_set(arr)` — set-membership array filter as one kernel call (see
  * [[TextExprs.keepInSet]] for the parity contract with the
  * `filter(arr, x -> x.isin(set))` lambda it replaces). NULL in → NULL out,
  * like the lambda form.
  */
case class KeepInSet(child: Expression, set: Seq[String])
  extends NativeKernel(TextExprs.getClass, "keepInSet", ArrayType(StringType))
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = Seq(TextExprs.utf8Set(set))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "keep_in_set"

  override protected def withNewChildInternal(newChild: Expression): KeepInSet =
    copy(child = newChild)
}

/** `token_hash_sums(s, seed1, seed2)` — struct(fp1, fp2) token-multiset
  * fingerprint in one zero-copy pass (see [[TextExprs.tokenHashSums]]).
  * Never NULL: a NULL input yields (0, 0) like `setHashSum(NULL)` per seed.
  */
case class TokenHashSums(child: Expression, seed1: Long, seed2: Long)
  extends NativeKernel(TextExprs.getClass, "tokenHashSums", StringType)
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = Seq(seed1, seed2)
  override protected def passNull: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("fp1", LongType, nullable = false),
    StructField("fp2", LongType, nullable = false)))
  override def prettyName: String = "token_hash_sums"

  override protected def withNewChildInternal(newChild: Expression): TokenHashSums =
    copy(child = newChild)
}

/** `match_tokens(s, set)` — struct(dl, mtoks) in one byte pass (see
  * [[TextExprs.matchTokens]]). NULL in → NULL out, like the composed
  * size(split)/keepInSet(split) pair it fuses.
  */
case class MatchTokens(child: Expression, set: Seq[String])
  extends NativeKernel(TextExprs.getClass, "matchTokens", StringType)
  with UnaryLike[Expression] {

  override protected def constants: Seq[Any] = Seq(TextExprs.utf8Set(set))
  override def dataType: DataType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("mtoks", ArrayType(StringType, containsNull = false), nullable = false)))
  override def prettyName: String = "match_tokens"

  override protected def withNewChildInternal(newChild: Expression): MatchTokens =
    copy(child = newChild)
}

/** `shingle_set_hash(norm, n, seed1, seed2)` — the fused one-pass twin of
  * `pipeline_corpus_clean`'s split → ngrams(distinct) → 2×set_hash_sum
  * cascade (see [[TextExprs.shingleSetHash]] for the contiguous-slice
  * invariant and the bit-parity contract). NULL when the input is null or
  * has fewer than `n` tokens — exactly the composed form's empty-shingle
  * ("shingleless", always-kept) rows; else struct(fp1, fp2).
  */
case class ShingleSetHash(child: Expression, n: Int, seed1: Long, seed2: Long)
  extends NativeKernel(TextExprs.getClass, "shingleSetHash", StringType)
  with UnaryLike[Expression] {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override protected def constants: Seq[Any] = Seq[Any](n, seed1, seed2) // no Int→Long widening
  override protected def nullResult: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("fp1", LongType, nullable = false),
    StructField("fp2", LongType, nullable = false)))
  override def prettyName: String = "shingle_set_hash"

  override protected def withNewChildInternal(newChild: Expression): ShingleSetHash =
    copy(child = newChild)
}
