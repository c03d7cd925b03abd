package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level kernel behind [[NativeExprs.HashedWordShingles]]: lowercase
  * → regex-tokenize → word n-gram shingles → md5-prefix 31-bit hash →
  * first-occurrence distinct, in ONE pass with a per-thread digest. A
  * plain object with static forwarders so generated code can call it as
  * `graft.functions.GraftHash.hashedWordShingles(s, n)`.
  *
  * Bit-for-bit equivalent to the Column formulation it replaces
  * (NativeExprPropertySpec generates the equivalence check):
  * `array_distinct(transform(wordShingles(text, n),
  *    s -> conv(substring(md5(s),1,8),16,10) & 0x7fffffff))`
  * — so the DuckDB oracles need no change. Equivalence notes:
  *   - lowercase via UTF8String.toLowerCase (what Spark's `lower` does);
  *   - tokens via Java regex split with limit -1 + drop-empties (what
  *     `filter(split(lower(text), "[^a-z0-9]+"), _ =!= "")` does);
  *   - `count < n` → ONE shingle of all tokens space-joined (possibly
  *     the empty string), mirroring wordShingles' fallback arm;
  *   - distinct-on-hash == distinct-on-string-then-hash up to md5-prefix
  *     collisions, exactly like the replaced form (which re-distincts
  *     after hashing).
  */
object GraftHash {

  private val TokenPattern = java.util.regex.Pattern.compile("[^a-z0-9]+")

  private val tlMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 hex chars of md5(bytes) as an unsigned int, masked to 31
    * bits — `conv(substring(md5(s), 1, 8), 16, 10) & 0x7fffffff`.
    */
  def md5Prefix31(bytes: Array[Byte]): Long =
    md5Prefix32(bytes) & 0x7fffffffL

  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Shared tokenizer: lowercase (UTF8String semantics, matching Spark's
    * `lower`) + split on non-alphanumeric runs + drop empties — the
    * exact row-level mirror of
    * `filter(split(lower(text), "[^a-z0-9]+"), _ =!= "")`.
    */
  private[graft] def tokenize(text: UTF8String): Array[String] = {
    val raw = TokenPattern.split(text.toLowerCase.toString, -1)
    var count = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) count += 1; i += 1 }
    if (count == raw.length) raw
    else {
      val toks = new Array[String](count)
      i = 0; var j = 0
      while (i < raw.length) {
        if (raw(i).nonEmpty) { toks(j) = raw(i); j += 1 }
        i += 1
      }
      toks
    }
  }

  /** Canonical token array as Spark strings ([[NativeExprs.Tokens]]). */
  def tokens(text: UTF8String): ArrayData =
    new GenericArrayData(
      tokenize(text).map(t => UTF8String.fromString(t): AnyRef))

  /** Unicode NFC canonical composition ([[NativeExprs.NfcNormalize]]):
    * the pre-dedup canonicalization step — visually identical texts
    * that differ only in combining-mark encoding (e + U+0301 vs é)
    * hash apart without it. ASCII fast path: `Normalizer.isNormalized`
    * is O(n) with no allocation, and real corpora are overwhelmingly
    * already-NFC, so the common row costs one scan.
    */
  def nfcNormalize(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** Word n-gram shingles WITH multiplicity
    * ([[NativeExprs.WordShinglesAllExpr]]); count < n → one shingle of
    * all tokens space-joined (possibly the empty string).
    */
  def wordShinglesAll(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text)
    if (toks.length < n)
      new GenericArrayData(
        Array[AnyRef](UTF8String.fromString(toks.mkString(" "))))
    else {
      val out = new Array[AnyRef](toks.length - n + 1)
      val sb = new java.lang.StringBuilder()
      var s = 0
      while (s <= toks.length - n) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(s + k))
          k += 1
        }
        out(s) = UTF8String.fromString(sb.toString)
        s += 1
      }
      new GenericArrayData(out)
    }
  }

  /** First 15 hex chars of md5(bytes) as a 60-bit value —
    * `conv(substring(md5(s), 1, 15), 16, 10)`: bytes 0..6 in full plus
    * the high nibble of byte 7.
    */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val md = tlMd5.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** One-pass mirror of
    * `array_distinct(transform(charShingles(text, n), s ->
    *    conv(substring(md5(s),1,15),16,10)))`:
    * normalize = trim(regexp_replace(lower(text), "\\s+", " ")) with
    * trim stripping the SPACE character only (Spark's StringTrim, NOT
    * Java's <=0x20 trim), shingles by CODE POINT (Spark substring/length
    * count code points, not UTF-16 units), length<=n → one whole-string
    * shingle.
    */
  def hashedCharShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return null
    val lower = text.toLowerCase.toString
    val replaced = WsPattern.matcher(lower).replaceAll(" ")
    var st = 0
    var en = replaced.length
    while (st < en && replaced.charAt(st) == ' ') st += 1
    while (en > st && replaced.charAt(en - 1) == ' ') en -= 1
    val norm = replaced.substring(st, en)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val cps = norm.codePoints().toArray
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (cps.length <= n) {
      out.add(md5Prefix60(norm.getBytes(utf8)))
    } else {
      var s = 0
      while (s <= cps.length - n) {
        val sh = new String(cps, s, n)
        out.add(md5Prefix60(sh.getBytes(utf8)))
        s += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  private val StopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.EnglishStopwords.foreach(s.add)
    s
  }

  /** One-pass token statistics behind [[NativeExprs.TokenStats]]:
    * (n_tokens, n_distinct, sum_len, stop_hits, distinct_stop_hits,
    * subword_units). Mirrors the Column formulations exactly:
    * token length counts CODE POINTS (Spark's length), stop_hits counts
    * occurrences, distinct_stop_hits counts distinct stopword tokens,
    * subword_units = sum(ceil(len/4)).
    */
  def tokenStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (text == null) return null
    val toks = tokenize(text)
    var sumLen = 0L
    var stopHits = 0
    var subwords = 0L
    val distinct = new java.util.HashSet[String]()
    val distinctStops = new java.util.HashSet[String]()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val cp = t.codePointCount(0, t.length)
      sumLen += cp
      subwords += (cp + 3) / 4
      distinct.add(t)
      if (StopSet.contains(t)) { stopHits += 1; distinctStops.add(t) }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](toks.length, distinct.size, sumLen, stopHits,
        distinctStops.size, subwords))
  }

  /** One-pass Shannon entropies behind [[NativeExprs.EntropyStats]]:
    * (char_entropy, token_entropy) in nats, H = ln(N) − (Σ c·ln c)/N.
    * token_entropy is over the canonical token multiset; char_entropy
    * is over the CODE POINTS OF THE CONCATENATED TOKENS (pure [a-z0-9]
    * by the tokenizer contract — this is what makes the figure
    * SQL-replayable without depending on an engine's raw-text
    * char-splitting semantics). Counts are summed in ascending sorted
    * order so the fp result is canonical across JVMs/layouts. N = 0 or
    * 1 → 0.0. Low char entropy flags character-level repetition
    * (aaaa…), low token entropy flags boilerplate/template docs — the
    * compression-ratio-proxy quality axis the ratio metrics miss.
    */
  def entropyStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (text == null) return null
    val toks = tokenize(text)
    val tokCounts = new java.util.HashMap[String, Long]()
    val chCounts = new java.util.HashMap[Integer, Long]()
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      tokCounts.merge(t, 1L, (a, b) => a + b)
      var c = 0
      while (c < t.length) {
        val cp = t.codePointAt(c)
        chCounts.merge(cp, 1L, (a, b) => a + b)
        c += Character.charCount(cp)
      }
      i += 1
    }
    def entropy(m: java.util.HashMap[_, Long]): Double = {
      var n = 0L
      val cs = new Array[Long](m.size)
      val it = m.values().iterator()
      var j = 0
      while (it.hasNext) { val c = it.next(); cs(j) = c; n += c; j += 1 }
      if (n <= 1L) return 0.0
      java.util.Arrays.sort(cs)
      var s = 0.0
      j = 0
      while (j < cs.length) {
        val c = cs(j).toDouble
        s += c * math.log(c)
        j += 1
      }
      math.log(n.toDouble) - s / n.toDouble
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](entropy(chCounts), entropy(tokCounts)))
  }

  /** Bloom-filter kernels. One md5 per probe yields two independent
    * 64-bit values (digest bytes 0–7 and 8–15); the k probe positions
    * come from Kirsch–Mitzenmacher double hashing h1 + i·h2 (public
    * result: k such combinations preserve the Bloom false-positive
    * bound). `bits.length * 64` must be a power of two so the position
    * is a mask, not a mod. Builder ([[bloomInsert]], used by the
    * mergeable aggregate) and prober ([[bloomMightContain]], called
    * from generated code) share these positions byte-for-byte.
    */
  private def bloomPos(d: Array[Byte], i: Int, mask: Long): Int = {
    var h1 = 0L; var h2 = 0L
    var j = 0
    while (j < 8) {
      h1 = (h1 << 8) | (d(j) & 0xffL)
      h2 = (h2 << 8) | (d(j + 8) & 0xffL)
      j += 1
    }
    ((h1 + i.toLong * h2) & mask).toInt
  }

  def bloomInsert(bits: Array[Long], gram: UTF8String, k: Int): Unit = {
    val md = tlMd5.get(); md.reset()
    val d = md.digest(gram.getBytes)
    val mask = bits.length.toLong * 64L - 1L
    var i = 0
    while (i < k) {
      val p = bloomPos(d, i, mask)
      bits(p >>> 6) |= (1L << (p & 63))
      i += 1
    }
  }

  def bloomMightContain(bits: Array[Long], gram: UTF8String, k: Int): Boolean = {
    if (gram == null) return false
    val md = tlMd5.get(); md.reset()
    val d = md.digest(gram.getBytes)
    val mask = bits.length.toLong * 64L - 1L
    var i = 0
    while (i < k) {
      val p = bloomPos(d, i, mask)
      if ((bits(p >>> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** First 8 hex chars of md5(bytes) as an unsigned 32-bit value —
    * `conv(substring(md5(t), 1, 8), 16, 10)` with no mask.
    */
  def md5Prefix32(bytes: Array[Byte]): Long = {
    val md = tlMd5.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** One-pass simhash: tokenize (WITH multiplicity), 32-bit md5-prefix
    * hash per token occurrence, per-bit majority vote (votes > 0 sets
    * the bit) — mirror of transform(tokens, md5-prefix) fed through
    * [[NativeExprs.SimHashVotes]]; empty token list → fingerprint 0.
    */
  def simhashText(text: UTF8String, bits: Int): Long = {
    // null input is guarded by the expression's nullSafeEval/codegen
    val toks = tokenize(text)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val votes = new Array[Int](bits)
    var i = 0
    while (i < toks.length) {
      val h = md5Prefix32(toks(i).getBytes(utf8))
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  private val LangCodes: Array[String] = TextFunctions.LangStopwords.keys.toArray.sorted
  private val LangSets: Array[java.util.HashSet[String]] = LangCodes.map { c =>
    val s = new java.util.HashSet[String]()
    TextFunctions.LangStopwords(c).foreach(s.add)
    s
  }

  /** One-pass language ID: distinct-token stopword hits per language,
    * first-wins alphabetical argmax, "und" when nothing matches —
    * mirror of TextFunctions.langId's CASE chain (code c wins when its
    * hits >= every later code's hits == the alphabetically first code
    * achieving the maximum).
    */
  def langId(text: UTF8String): UTF8String = {
    if (text == null) return null
    val toks = tokenize(text)
    val seen = new java.util.HashSet[String]()
    val hits = new Array[Int](LangCodes.length)
    var any = false
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        var c = 0
        while (c < LangCodes.length) {
          if (LangSets(c).contains(t)) { hits(c) += 1; any = true }
          c += 1
        }
      }
      i += 1
    }
    if (!any) return UTF8String.fromString("und")
    var best = 0
    var c = 1
    while (c < LangCodes.length) {
      if (hits(c) > hits(best)) best = c
      c += 1
    }
    UTF8String.fromString(LangCodes(best))
  }

  private val HexChars = "0123456789abcdef".toCharArray

  /** One-pass document fingerprint: md5 of the sorted distinct token
    * set joined by spaces, as lowercase hex — mirror of
    * `md5(array_join(array_sort(array_distinct(tokens(text))), " "))`.
    * Tokens are pure ASCII post-split ([a-z0-9]+ only), so Java string
    * order == Spark's UTF8String byte order.
    */
  def tokenFingerprint(text: UTF8String): UTF8String = {
    if (text == null) return null
    val toks = tokenize(text)
    val sorted = new java.util.TreeSet[String]()
    var i = 0
    while (i < toks.length) { sorted.add(toks(i)); i += 1 }
    val joined = String.join(" ", sorted)
    val md = tlMd5.get()
    md.reset()
    val d = md.digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = new Array[Char](32)
    i = 0
    while (i < 16) {
      hex(2 * i) = HexChars((d(i) & 0xf0) >> 4)
      hex(2 * i + 1) = HexChars(d(i) & 0x0f)
      i += 1
    }
    UTF8String.fromString(new String(hex))
  }

  def hashedWordShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return null
    val toks = tokenize(text)
    val count = toks.length
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (count < n) {
      out.add(md5Prefix31(toks.mkString(" ").getBytes(utf8)))
    } else {
      val sb = new java.lang.StringBuilder()
      var s = 0
      while (s <= count - n) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(s + k))
          k += 1
        }
        out.add(md5Prefix31(sb.toString.getBytes(utf8)))
        s += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  /** One BPE merge step over a symbol array: replace every adjacent
    * (l, r) occurrence with the concatenated symbol, scanning LEFT TO
    * RIGHT without overlap (the Sennrich-BPE contract: in "a a a" with
    * merge (a,a), the first two merge and the third survives) —
    * [[NativeExprs.BpeMergeAdjacent]]. The DuckDB oracle replays the
    * identical semantics as a literal string replace over
    * space-sentineled symbol strings.
    */
  def bpeMerge(syms: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    if (syms == null) return null
    val n = syms.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    val merged = UTF8String.concat(l, r)
    var i = 0
    while (i < n) {
      if (i < n - 1 && !syms.isNullAt(i) && !syms.isNullAt(i + 1) &&
          syms.getUTF8String(i) == l && syms.getUTF8String(i + 1) == r) {
        out.add(merged)
        i += 2
      } else {
        // clone: the input may be UnsafeArrayData whose string slices
        // alias a reused row buffer
        out.add(if (syms.isNullAt(i)) null else syms.getUTF8String(i).clone())
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** BPE ENCODE: apply a learned merge sequence (rank order) to every
    * token of a document, one merge = one left-to-right non-overlapping
    * pass over that token's symbol array ([[bpeMerge]] semantics) —
    * [[NativeExprs.BpeEncode]]. Output: the document's subword units in
    * token order. Merges never bridge token boundaries (each token is
    * encoded independently), matching the training contract.
    */
  def bpeEncodeDoc(tokens: ArrayData, ls: Array[String],
      rs: Array[String]): ArrayData = {
    if (tokens == null) return null
    val out = new java.util.ArrayList[AnyRef]()
    val nTok = tokens.numElements()
    var t = 0
    while (t < nTok) {
      if (!tokens.isNullAt(t)) {
        val word = tokens.getUTF8String(t).toString
        var syms = new java.util.ArrayList[String](word.length)
        var c = 0
        while (c < word.length) {
          // codePoint-safe split: surrogate pairs stay one symbol
          val cp = word.codePointAt(c)
          val n = Character.charCount(cp)
          syms.add(word.substring(c, c + n))
          c += n
        }
        var m = 0
        while (m < ls.length) {
          val l = ls(m); val r = rs(m)
          val merged = new java.util.ArrayList[String](syms.size)
          var i = 0
          while (i < syms.size) {
            if (i < syms.size - 1 && syms.get(i) == l && syms.get(i + 1) == r) {
              merged.add(l + r); i += 2
            } else { merged.add(syms.get(i)); i += 1 }
          }
          syms = merged
          m += 1
        }
        var k = 0
        while (k < syms.size) {
          out.add(UTF8String.fromString(syms.get(k))); k += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out.toArray)
  }

  private val MinhashPrime = 2147483647L

  /** Whole MinHash signature in ONE pass over a hashed-shingle array
    * ([[NativeExprs.MinhashSig]]): out(i) = min over shingles h of
    * (a_i·h + b_i) mod P with the [[HashFunctions.minhashA]]/`minhashB`
    * constants — bit-identical to `min` aggregating
    * `HashFunctions.minhashMix` over an exploded shingle table, but
    * per-row: no explode, no groupBy, NO SHUFFLE to build signatures.
    * Null elements are skipped (mirroring `min`'s null handling); an
    * array with no usable elements yields an all-null signature, exactly
    * what the outer-explode + min aggregation produced.
    */
  def minhashSig(hashes: ArrayData, numHashes: Int): ArrayData = {
    if (hashes == null) return null
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      a(i) = ((i + 1L) * 2654435761L) % MinhashPrime
      b(i) = (i * 40503L + 12345L) % MinhashPrime
      i += 1
    }
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      if (!hashes.isNullAt(j)) {
        any = true
        val h = hashes.getLong(j)
        var k = 0
        while (k < numHashes) {
          var m = (h * a(k) + b(k)) % MinhashPrime
          if (m < 0) m += MinhashPrime // pmod semantics; unreachable for 31-bit inputs
          if (m < mins(k)) mins(k) = m
          k += 1
        }
      }
      j += 1
    }
    if (!any) new GenericArrayData(new Array[AnyRef](numHashes))
    else new GenericArrayData(mins)
  }

  /** PQ encode kernel over a FLAT codebook, cb[(m·numCodes+k)·subDim+j]
    * ([[NativeExprs.PqCodes]]): per subspace, argmin-L2 code with the
    * LOWEST code kept on a bit-equal tie (strict <). Float elements
    * widen exactly to double; distances accumulate in subvector index
    * order — the same decision procedure as the unrolled-literal
    * expression form this replaced (which cost Catalyst ~40 s/query in
    * analysis+codegen on 4096-term trees at 8 × 64 codes) and as the
    * SQL oracle, so result hashes are unchanged.
    */
  /** SQ8 scalar-quantization encode ([[NativeExprs.Sq8Codes]]): per
    * dimension, code = round(((x − mn) / (mx − mn)) · 255) clamped to
    * [0, 255] (0 for a degenerate mn = mx dimension). The argument is
    * always nonnegative, so JVM half-up rounding equals the oracle's
    * half-away-from-zero. Reconstruction (in [[sq8Cosine]] and the
    * oracle) is x̂ = mn + code · ((mx − mn) / 255) — operation order
    * fixed on both sides so the doubles match bit-for-bit.
    */
  def sq8Codes(emb: ArrayData, isFloat: Boolean,
      mins: Array[Double], maxs: Array[Double]): ArrayData = {
    if (emb == null) return null
    val n = mins.length
    val out = new Array[Int](n)
    var d = 0
    while (d < n) {
      val v = if (isFloat) emb.getFloat(d).toDouble else emb.getDouble(d)
      val span = maxs(d) - mins(d)
      out(d) =
        if (span <= 0.0) 0
        else {
          val c = Math.round(((v - mins(d)) / span) * 255.0).toInt
          if (c < 0) 0 else if (c > 255) 255 else c
        }
      d += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric SQ8 cosine ([[NativeExprs.Sq8Cosine]]): exact query vs
    * reconstructed corpus vector, dot/norms accumulated in dimension
    * order (mirrors list_dot_product). Zero-norm side → 0.0, matching
    * [[NativeExprs.CosineSim]]. Caller guarantees lengths == dims.
    */
  def sq8Cosine(q: ArrayData, isFloat: Boolean, codes: ArrayData,
      mins: Array[Double], maxs: Array[Double]): Double = {
    val n = mins.length
    var dot = 0.0; var nq = 0.0; var nx = 0.0
    var d = 0
    while (d < n) {
      val qi = if (isFloat) q.getFloat(d).toDouble else q.getDouble(d)
      val xhat = mins(d) + codes.getInt(d) * ((maxs(d) - mins(d)) / 255.0)
      dot += qi * xhat
      nq += qi * qi
      nx += xhat * xhat
      d += 1
    }
    if (math.sqrt(nq) == 0.0 || math.sqrt(nx) == 0.0) 0.0
    else dot / (math.sqrt(nq) * math.sqrt(nx))
  }

  /** Binary-quantization encode ([[NativeExprs.BinCodes]]): bit d of
    * word d/64 is set iff x(d) > thresholds(d); bits pack LSB-first
    * into ceil(dims/64) longs. Thresholds are 1e-6-quantized per-dim
    * means (see SimilarityOps.binaryThresholds), so the comparison is
    * engine-exact.
    */
  def binCodes(emb: ArrayData, isFloat: Boolean,
      thresholds: Array[Double]): ArrayData = {
    if (emb == null) return null
    val n = thresholds.length
    val words = new Array[Long]((n + 63) >>> 6)
    var d = 0
    while (d < n) {
      val v = if (isFloat) emb.getFloat(d).toDouble else emb.getDouble(d)
      if (v > thresholds(d)) words(d >>> 6) |= (1L << (d & 63))
      d += 1
    }
    new GenericArrayData(words)
  }

  /** Packed-word Hamming distance ([[NativeExprs.BinHamming]]):
    * Σ bitCount(a XOR b) over the word arrays. Caller guarantees equal
    * lengths (the expression null-guards a mismatch).
    */
  def binHamming(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    var h = 0
    var w = 0
    while (w < n) {
      h += java.lang.Long.bitCount(a.getLong(w) ^ b.getLong(w))
      w += 1
    }
    h
  }

  def pqCodes(emb: ArrayData, isFloat: Boolean, cb: Array[Double],
      numSub: Int, numCodes: Int, subDim: Int): ArrayData = {
    if (emb == null) return null
    val out = new Array[Int](numSub)
    var m = 0
    while (m < numSub) {
      var bk = 0
      var bd = Double.MaxValue
      var k = 0
      while (k < numCodes) {
        val base = (m * numCodes + k) * subDim
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val v = if (isFloat) emb.getFloat(m * subDim + j).toDouble
                  else emb.getDouble(m * subDim + j)
          val x = v - cb(base + j)
          d += x * x
          j += 1
        }
        if (d < bd) { bd = d; bk = k }
        k += 1
      }
      out(m) = bk
      m += 1
    }
    new GenericArrayData(out)
  }

  /** PQ per-query ADC distance table ([[NativeExprs.PqDtab]]):
    * out(m·numCodes + k) = ‖querySub_m − code_{m,k}‖², same flat layout
    * and accumulation order as [[pqCodes]].
    */
  def pqDtab(emb: ArrayData, isFloat: Boolean, cb: Array[Double],
      numSub: Int, numCodes: Int, subDim: Int): ArrayData = {
    if (emb == null) return null
    val out = new Array[Double](numSub * numCodes)
    var m = 0
    while (m < numSub) {
      var k = 0
      while (k < numCodes) {
        val base = (m * numCodes + k) * subDim
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val v = if (isFloat) emb.getFloat(m * subDim + j).toDouble
                  else emb.getDouble(m * subDim + j)
          val x = v - cb(base + j)
          d += x * x
          j += 1
        }
        out(m * numCodes + k) = d
        k += 1
      }
      m += 1
    }
    new GenericArrayData(out)
  }

  /** Log-prob penalty for a code point no vocab piece covers — harsh
    * enough that any real segmentation beats an unknown-char one, but
    * finite so every word stays segmentable (SentencePiece's unk
    * handling has the same role).
    */
  val UnigramUnkLogp: Double = -100.0

  /** Viterbi unigram-LM segmentation of each token against a piece
    * vocabulary ([[NativeExprs.UnigramEncode]] kernel body). For every
    * token: DP over code-point boundaries maximizing the summed piece
    * log-probs; exact score ties prefer the LONGER trailing piece
    * (candidate start positions are scanned longest-piece-first with
    * strictly-greater replacement), so the segmentation is
    * deterministic. Code points with no covering piece fall back to a
    * single-char piece at [[UnigramUnkLogp]]. Output: the tokens'
    * segmentations concatenated in token order.
    */
  def unigramEncodeDoc(tokens: ArrayData,
      vocab: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int): ArrayData = {
    if (tokens == null) return null
    val out = new java.util.ArrayList[AnyRef]()
    val nTok = tokens.numElements()
    var t = 0
    while (t < nTok) {
      if (!tokens.isNullAt(t)) {
        val word = tokens.getUTF8String(t).toString
        // code-point boundary positions: pos(0)=0 < ... < pos(P-1)=len
        val posBuf = new java.util.ArrayList[Integer](word.length + 1)
        var c = 0
        while (c < word.length) {
          posBuf.add(c)
          c += Character.charCount(word.codePointAt(c))
        }
        posBuf.add(word.length)
        val P = posBuf.size
        val pos = new Array[Int](P)
        var q = 0
        while (q < P) { pos(q) = posBuf.get(q); q += 1 }

        val best = new Array[Double](P)
        val back = new Array[Int](P)
        java.util.Arrays.fill(best, Double.NegativeInfinity)
        best(0) = 0.0
        var pi = 1
        while (pi < P) {
          // longest piece first: pj ascending from pi-maxPieceLen
          var pj = math.max(0, pi - maxPieceLen)
          while (pj < pi) {
            if (best(pj) != Double.NegativeInfinity) {
              val lp = vocab.get(word.substring(pos(pj), pos(pi)))
              if (lp != null) {
                val cand = best(pj) + lp.doubleValue()
                if (cand > best(pi)) { best(pi) = cand; back(pi) = pj }
              }
            }
            pj += 1
          }
          if (best(pi) == Double.NegativeInfinity) {
            // unknown code point: single-char fallback keeps coverage
            best(pi) = best(pi - 1) + UnigramUnkLogp
            back(pi) = pi - 1
          }
          pi += 1
        }
        // backtrack, then emit in order
        val rev = new java.util.ArrayList[String]()
        var cur = P - 1
        while (cur > 0) {
          rev.add(word.substring(pos(back(cur)), pos(cur)))
          cur = back(cur)
        }
        var k = rev.size - 1
        while (k >= 0) {
          out.add(UTF8String.fromString(rev.get(k))); k -= 1
        }
      }
      t += 1
    }
    new GenericArrayData(out.toArray)
  }
}
