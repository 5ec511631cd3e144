package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expressions for the similarity / dedup hot paths.
  *
  * The column-DSL versions of these ([[graft.ops.Similarity.cosineFold]],
  * the old `charMask` fold) are built from `aggregate`/`zip_with`
  * higher-order functions, which Spark evaluates with an interpreted
  * lambda per element — fine per row, ruinous inside an O(n·k) ANN
  * candidate stage (the round-1 bench showed td_ann_ivf and
  * td_char_jaccard dominating the suite on exactly this). These
  * expressions keep identical semantics (same fold order, same
  * float→double widening, same null/zero-norm behavior — bit-identical
  * doubles) but evaluate as one compiled loop per value, inlined into
  * whole-stage codegen via a static call (the
  * [[PgArrayParseExpression]] pattern, SURVEY §2.10).
  */
object VectorOps {

  /** Cosine similarity with left-to-right double accumulation —
    * the exact fold order of `aggregate(zip_with(a,b,_*_),0.0,_+_)`,
    * so results are bit-identical to the HOF form. Null when: lengths
    * differ (zip_with pads with null), any element is null, or either
    * norm is zero (`nullif` guard in the DSL form).
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else java.lang.Double.valueOf(dot / den)
  }

  /** ASCII char-set bitmap, identical to the old interpreted fold over
    * `split(text, "")`: per code point cp, bit `1L << (cp % 64)` goes
    * to `lo` if cp < 64 else `hi`. Java's `<<` wraps its shift mod 64,
    * matching `shiftleft(1L, pmod(cp, 64))`. The empty string keeps
    * the fold's quirk: `split` yields `[""]` and `ascii("") = 0`, so
    * bit 0 of `lo` is set.
    */
  def charMask(s: UTF8String): InternalRow = {
    var lo = 0L
    var hi = 0L
    val str = s.toString
    if (str.isEmpty) {
      lo = 1L
    } else {
      var i = 0
      val len = str.length
      while (i < len) {
        val cp = str.codePointAt(i)
        val bit = 1L << cp
        if (cp < 64) lo |= bit else hi |= bit
        i += Character.charCount(cp)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lo, hi))
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Distinct word n-gram shingles, first-occurrence order — the
    * native form of `Dedup.shingles`: tokens = trim-split on \s+,
    * whole-text fallback when fewer than n tokens. One tight loop per
    * row instead of an interpreted `transform` lambda per shingle.
    *
    * Tokenization replicates the column form EXACTLY (and the DuckDB
    * oracles' `string_split_regex(trim(text),'\s+')`): SQL `trim`
    * strips ONLY ASCII spaces (not \t/\n/\r — Java's String.trim
    * would), and the regex split keeps boundary empty tokens the way
    * SQL split does (Java's default String.split drops trailing
    * ones — Pattern.split with limit -1 keeps them).
    */
  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val raw = s.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val str = raw.substring(b, e)
    val toks: Array[String] =
      if (str.isEmpty) Array.empty else wsPattern.split(str, -1)
    if (toks.length < n) {
      ArrayData.toArrayData(Array[Any](UTF8String.fromString(toks.mkString(" "))))
    } else {
      val seen = new java.util.LinkedHashSet[String]
      var i = 0
      val last = toks.length - n
      while (i <= last) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      ArrayData.toArrayData(out)
    }
  }

  /** Exact integer dot product of two long arrays — the native form
    * of `aggregate(zip_with(a,b,_*_), 0L, _+_)`, the argmin kernel the
    * k-means / IVF-probe / PQ paths evaluate k times PER ROW per
    * iteration through interpreted lambdas. Fold semantics preserved:
    * length mismatch or a null element → null (zip_with's null
    * padding); arithmetic uses the exact (overflow-throwing) ops the
    * ANSI fold would. */
  def dotLong(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** `floor(double(x)·scale)` integer quantization of a float/double
    * vector — the native form of the per-element `transform` lambda in
    * [[graft.ops.KMeans.quantize]]. Null elements stay null. */
  def quantizeLong(vec: ArrayData, scale: Int, vFloat: Boolean): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (vec.isNullAt(i)) null
        else {
          val x = if (vFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          java.lang.Long.valueOf(math.floor(x * scale).toLong)
        }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** SQ scalar-quantization encode — native form of
    * [[graft.ops.ScalarQuant.encode]]'s per-element `zip_with` lambda:
    * code j = clamp(0, levels, ((q_j − mn_j)·levels) div
    * max(mx_j − mn_j, 1)), run over the corpus at every index build.
    * `st` is the broadcast stats row (array<struct<pos,mn,mx>> in
    * position order). zip_with's null padding: length mismatch or a
    * null element → null code. */
  def sqEncode(qv: ArrayData, st: ArrayData, levels: Int): ArrayData = {
    val n = math.max(qv.numElements(), st.numElements())
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      out(j) =
        if (j >= qv.numElements() || j >= st.numElements() ||
          qv.isNullAt(j) || st.isNullAt(j)) null
        else {
          val s = st.getStruct(j, 3)
          val mn = s.getLong(1)
          val mx = s.getLong(2)
          val raw = (qv.getLong(j) - mn) * levels / math.max(mx - mn, 1L)
          Integer.valueOf(math.max(0L, math.min(levels.toLong, raw)).toInt)
        }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** SQ integer reconstruction — native form of
    * [[graft.ops.ScalarQuant]]'s `reconstruct` zip_with (runs once per
    * CANDIDATE on the ADC scoring path): element j =
    * mn_j·levels + code_j·(mx_j − mn_j). Null padding as zip_with. */
  def sqReconstruct(codes: ArrayData, st: ArrayData, levels: Int): ArrayData = {
    val n = math.max(codes.numElements(), st.numElements())
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      out(j) =
        if (j >= codes.numElements() || j >= st.numElements() ||
          codes.isNullAt(j) || st.isNullAt(j)) null
        else {
          val s = st.getStruct(j, 3)
          val mn = s.getLong(1)
          val mx = s.getLong(2)
          java.lang.Long.valueOf(mn * levels + codes.getInt(j).toLong * (mx - mn))
        }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct 128-bit-folded char-bit ids of a text, first-occurrence
    * order — the native form of
    * `array_distinct(transform(split(text, ""), bitId))` in
    * [[graft.ops.Dedup.charJaccardSimilar]] (an interpreted lambda per
    * CHARACTER across the corpus). bit = cp when cp < 64 else
    * 64 + cp mod 64 — the same fold [[charMask]] verifies in. Keeps
    * the split quirk: empty text → [""] → ascii("") = 0 → bit 0. */
  def charBits(s: UTF8String): ArrayData = {
    val str = s.toString
    val seen = new java.util.LinkedHashSet[Integer]
    if (str.isEmpty) seen.add(Integer.valueOf(0))
    else {
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        seen.add(Integer.valueOf(if (cp < 64) cp else 64 + cp % 64))
        i += Character.charCount(cp)
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().intValue; k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unicode NFC normalization (canonical composition) — the text-
    * hygiene primitive dedup needs BEFORE fingerprinting: `é` as one
    * code point and `e`+combining-acute md5 differently but are the
    * same text. No Column-DSL form exists (this is why it's a native
    * expression, not a lambda replacement); java.text.Normalizer NFC
    * matches ICU/DuckDB `nfc_normalize` on canonical compositions.
    * Fast path: pure-ASCII strings (the overwhelming majority at
    * corpus scale) return the input without copying. */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** 60-bit md5 SimHash of a document in ONE compiled pass — the
    * native form of [[graft.ops.Dedup.simhashMd5Df]]'s
    * explode + 60-bit-sum groupBy, which shuffles one row PER TOKEN
    * just to compute a per-document value. Same definition exactly:
    * tokens by the shared tokenization, per-token hash = first 15 hex
    * chars of md5 as a long, bit i of the result = majority vote of
    * bit i across token hashes (strict `2·ones > n`). Zero-token docs
    * → 0 (null text handled at the expression level). A narrow map —
    * no shuffle — which is the shape that matters when simhashing
    * 100 TB. */
  def simhashMd5(s: UTF8String): Long = {
    val raw = s.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val str = raw.substring(b, e)
    val toks: Array[String] =
      if (str.isEmpty) Array.empty else wsPattern.split(str, -1)
    if (toks.length == 0) return 0L
    val ones = new Array[Int](60)
    val md = md5Local.get()
    var t = 0
    while (t < toks.length) {
      md.reset()
      md.update(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
      h = (h << 4) | ((d(7) & 0xFF) >>> 4)
      var i = 0
      while (i < 60) { ones(i) += ((h >>> i) & 1L).toInt; i += 1 }
      t += 1
    }
    var sim = 0L
    var i = 0
    while (i < 60) {
      if (ones(i) * 2 > toks.length) sim |= (1L << i)
      i += 1
    }
    sim
  }

  /** 63-bit perceptual dHash of a binary media payload, one compiled
    * pass — the image half of near-dup detection
    * ([[graft.ops.Multimodal.perceptualNearDup]]).
    *
    * The "pixel grid" is a 64-cell histogram of hashed byte 4-grams
    * (bucket = md5-hex60 of the 4-byte window, mod 64): translation-
    * invariant (counts carry no position), so a payload with a few
    * bytes prepended — the re-encode/header-change signature of a
    * shifted copy — lands within a handful of bits of the original,
    * while unrelated payloads differ in ~half the bits (measured on
    * the documents corpus: shifted copies ≤ 3, unrelated ≥ 8, median
    * 21). Bit k of the hash is the dHash-style gradient
    * `cell[k+1] > cell[k]` — 63 bits, deliberately NOT 64: DuckDB's
    * BIGINT `1 << 63` overflows, and the oracle must compute the
    * identical value. md5 (not xxhash) for the same reason — it
    * exists in both engines, the td_simhash_md5 discipline. */
  def dhashMd5(b: Array[Byte]): Long = {
    val cells = 64
    if (b.length < 4) return 0L
    val counts = new Array[Long](cells)
    val md = md5Local.get()
    var i = 0
    while (i <= b.length - 4) {
      md.reset()
      md.update(b, i, 4)
      val d = md.digest()
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
      h = (h << 4) | ((d(7) & 0xFF) >>> 4)
      counts((h % cells).toInt) += 1
      i += 1
    }
    var ph = 0L
    var k = 0
    while (k < cells - 1) {
      if (counts(k + 1) > counts(k)) ph |= (1L << k)
      k += 1
    }
    ph
  }

  /** Word n-grams in POSITION order, duplicates kept — one gram per
    * start position (the [[graft.ops.Winnowing.duplicatedSpans]] feed:
    * `posexplode` over this yields the (pos, gram) pairs the
    * span-merge needs). Same tokenization as [[wordShingles]]; fewer
    * than `n` tokens → empty array (callers' `n_tokens >= n` filter
    * becomes explode-of-empty). One compiled loop instead of an
    * interpreted `transform` lambda per position. */
  def positionedGrams(s: UTF8String, n: Int): ArrayData = {
    val raw = s.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val str = raw.substring(b, e)
    val toks: Array[String] =
      if (str.isEmpty) Array.empty else wsPattern.split(str, -1)
    if (toks.length < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Winnowing fingerprint selection in one pass (see
    * [[WinnowFingerprintsExpression]]): tokenize like
    * [[positionedGrams]] (SQL space-only trim, `\s+` split), hash
    * every k-gram to the md5-hex60 long ([[graft.ops.Pipeline
    * .hashHex]] twin), then slide a monotonic deque over the hash
    * sequence — pops with `>=` keep the RIGHTMOST minimum at the
    * front, the paper's tie rule. Selected positions are
    * non-decreasing (the deque front index never moves left), so
    * consecutive dedup yields the distinct fingerprint set in
    * position order. A doc with fewer than `w` grams forms one short
    * window; fewer than `k` tokens → empty. */
  def winnowFingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val raw = s.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val str = raw.substring(b, e)
    val toks: Array[String] =
      if (str.isEmpty) Array.empty else wsPattern.split(str, -1)
    val ng = toks.length - k + 1
    if (ng <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val md = md5Local.get()
    val hs = new Array[Long](ng)
    var i = 0
    while (i < ng) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
      md.reset()
      val d = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var t = 0
      while (t < 7) { h = (h << 8) | (d(t) & 0xFFL); t += 1 }
      hs(i) = (h << 4) | ((d(7) & 0xFF) >>> 4)
      i += 1
    }
    val wEff = math.min(w, ng)
    val deque = new Array[Int](ng)
    var head = 0
    var tail = 0
    val selPos = new Array[Int](ng - wEff + 1)
    var nSel = 0
    var p = 0
    while (p < ng) {
      while (tail > head && hs(deque(tail - 1)) >= hs(p)) tail -= 1
      deque(tail) = p
      tail += 1
      if (p >= wEff - 1) {
        val s0 = p - wEff + 1
        while (deque(head) < s0) head += 1
        val sel = deque(head)
        if (nSel == 0 || selPos(nSel - 1) != sel) {
          selPos(nSel) = sel
          nSel += 1
        }
      }
      p += 1
    }
    val out = new Array[Any](nSel)
    var q = 0
    while (q < nSel) {
      out(q) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](selPos(q), hs(selPos(q))))
      q += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Span excision in one pass (see [[ExcisePositionsExpression]]):
    * tokenize like the SQL form (space-only trim, `\s+` split), sort
    * and merge the cut intervals (insertion sort — interval counts
    * are island counts, single digits in practice), then walk tokens
    * against the merged list with two pointers, appending survivors.
    * Clean text joins with single spaces — the same normalization
    * the `concat_ws` fold applies. */
  def excisePositions(s: UTF8String, cuts: ArrayData): InternalRow = {
    val raw = s.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val str = raw.substring(b, e)
    val toks: Array[String] =
      if (str.isEmpty) Array.empty else wsPattern.split(str, -1)
    val ncRaw = cuts.numElements()
    val ss = new Array[Int](ncRaw)
    val es = new Array[Int](ncRaw)
    // null elements / null-field structs (possible via SQL literals or
    // a null-producing transform — the accepted input type has
    // containsNull) carry no interval: skip them, keeping the kernel
    // total over its declared type instead of NPE-ing in codegen
    var nc = 0
    var i = 0
    while (i < ncRaw) {
      if (!cuts.isNullAt(i)) {
        val r = cuts.getStruct(i, 2)
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          ss(nc) = r.getInt(0)
          es(nc) = r.getInt(1)
          nc += 1
        }
      }
      i += 1
    }
    // insertion sort by start
    i = 1
    while (i < nc) {
      val cs = ss(i); val ce = es(i)
      var j = i - 1
      while (j >= 0 && ss(j) > cs) { ss(j + 1) = ss(j); es(j + 1) = es(j); j -= 1 }
      ss(j + 1) = cs; es(j + 1) = ce
      i += 1
    }
    // merge overlapping/touching intervals in place → [0, nm)
    var nm = 0
    i = 0
    while (i < nc) {
      if (nm > 0 && ss(i) <= es(nm - 1)) {
        if (es(i) > es(nm - 1)) es(nm - 1) = es(i)
      } else {
        ss(nm) = ss(i); es(nm) = es(i); nm += 1
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder()
    var kept = 0
    var ci = 0
    var t = 0
    while (t < toks.length) {
      while (ci < nm && es(ci) < t) ci += 1
      if (!(ci < nm && ss(ci) <= t && t <= es(ci))) {
        if (kept > 0) sb.append(' ')
        sb.append(toks(t))
        kept += 1
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString), kept))
  }

  /** Per-document repetition stats (the Gopher-style repetition
    * filters): `top_bigram_frac` = occurrences of the most frequent
    * word bigram / total bigrams, `dup_trigram_frac` = fraction of
    * word trigrams that are repeats of an earlier one. One compiled
    * pass per document — a narrow map with NO shuffle, the shape that
    * survives 100 TB (the explode+groupBy alternative shuffles ~2× the
    * corpus just to compute a per-row statistic).
    *
    * Tokenization replicates [[wordShingles]] (= the DuckDB oracles'
    * `string_split_regex(trim(text),'\s+')`). Fields are null when the
    * document has no bigrams / trigrams, matching the oracle's
    * missing-group NULLs. Fractions are single IEEE divisions of exact
    * integer counts — bit-identical cross-engine.
    */
  def repetitionStats(s: UTF8String): InternalRow = {
    val raw = s.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val str = raw.substring(b, e)
    val toks: Array[String] =
      if (str.isEmpty) Array.empty else wsPattern.split(str, -1)
    val nb = toks.length - 1
    val topBigram: Any =
      if (nb < 1) null
      else {
        val counts = new java.util.HashMap[String, Integer](nb * 2)
        var best = 0
        var i = 0
        while (i < nb) {
          val g = toks(i) + " " + toks(i + 1)
          val c = counts.merge(g, Integer.valueOf(1),
            (x: Integer, y: Integer) => Integer.valueOf(x.intValue + y.intValue))
          if (c.intValue > best) best = c.intValue
          i += 1
        }
        java.lang.Double.valueOf(best.toDouble / nb)
      }
    val nt = toks.length - 2
    val dupTrigram: Any =
      if (nt < 1) null
      else {
        val seen = new java.util.HashSet[String](nt * 2)
        var i = 0
        while (i < nt) {
          seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
          i += 1
        }
        java.lang.Double.valueOf(1.0 - seen.size.toDouble / nt)
      }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](topBigram, dupTrigram))
  }

  /** Sign-LSH bucket: bit p of the result = sign of dot(vec, plane_p),
    * plane component j = pmod(xxhash64(p, j), 1e6)/1e6 - 0.5 — the
    * exact hash chain of the column form (`xxhash64(lit(p), j)` =
    * XXH64.hashInt(j, XXH64.hashInt(p, 42))), same left-to-right
    * double fold, so buckets match the DSL version bit-for-bit.
    */
  def lshBucket(vec: ArrayData, numPlanes: Int, vFloat: Boolean): java.lang.Long = {
    val n = vec.numElements()
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      val hp = XXH64.hashInt(p, 42L)
      var dot = 0.0
      var j = 0
      while (j < n) {
        if (vec.isNullAt(j)) return null
        val h = XXH64.hashInt(j, hp)
        val m = h % 1000000L
        val pm = if (m < 0) m + 1000000L else m
        val comp = pm.toDouble / 1000000.0 - 0.5
        val x = if (vFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        dot += x * comp
        j += 1
      }
      if (dot > 0) bucket |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }

  /** Modulus / base of the production rolling hash in [[cdcChunks]]:
    * Rabin–Karp over code points mod the Mersenne prime 2³¹−1 with an
    * odd prime base. Chosen so the per-position window hash is ALSO
    * expressible in portable 64-bit SQL arithmetic (8 terms of
    * cp·Bᵏ mod P each < 2⁵², sum < 2⁵⁵ — no overflow in a BIGINT),
    * which is what lets the fast path carry a full DuckDB oracle
    * instead of a spec-only twin. */
  val CdcHashP: Long = 2147483647L
  val CdcHashB: Long = 1000003L

  /** `CdcHashB^k mod CdcHashP` — exposed so the oracle-SQL builder
    * interpolates the exact same constants the compiled loop uses. */
  def cdcPow(k: Int): Long = {
    var r = 1L
    var i = 0
    while (i < k) { r = r * CdcHashB % CdcHashP; i += 1 }
    r
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Content-defined chunking (see [[graft.ops.TextAnalysis.cdcChunks]])
    * as ONE compiled pass per document: returns
    * `array<struct<start:long, chunk:string>>` — the exact output of
    * the explode-ready fold form, without materializing the per-char
    * hash sequence through interpreted higher-order lambdas (the fold
    * form was the suite's heaviest warm query on exactly that).
    *
    * A boundary lands after code-point position `i` (1-based) when the
    * hash of the trailing `window` code points is ≡ 0 mod `divisor`:
    *  - `useMd5 = true`: hash = first 15 hex digits of md5 of the
    *    window's UTF-8 bytes as a long — bit-identical to
    *    `pmod(Pipeline.hashHex(substr(text,…,window), 15), divisor)`,
    *    the oracle-portable twin.
    *  - `useMd5 = false`: Rabin–Karp rolling hash over code points mod
    *    2³¹−1 (base [[CdcHashB]]) — O(1) per position instead of one
    *    md5 per position; the production path at 100 TB.
    * Both index by Unicode code point (Spark's `substr`/`length`
    * semantics), so multi-byte text chunks identically to the SQL form.
    */
  def cdcChunks(s: UTF8String, window: Int, divisor: Int, useMd5: Boolean): ArrayData = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // code-point byte offsets: off(j) = byte start of code point j
    val off = new Array[Int](nBytes + 1)
    var n = 0
    var i = 0
    while (i < nBytes) {
      off(n) = i
      n += 1
      val b = bytes(i) & 0xFF
      i += (if (b < 0x80) 1 else if (b < 0xE0) 2 else if (b < 0xF0) 3 else 4)
    }
    off(n) = nBytes
    // edges: 0, every boundary position, n (dedup'd — a boundary at n
    // matches the fold form's array_distinct)
    val edges = new Array[Int](n + 2)
    edges(0) = 0
    var ne = 1
    if (n >= window) {
      if (useMd5) {
        val md = md5Local.get()
        var p = window // 1-based position of the window's last code point
        while (p <= n) {
          md.reset()
          md.update(bytes, off(p - window), off(p) - off(p - window))
          val d = md.digest()
          // first 15 hex digits as a long: bytes 0..6 + high nibble of 7
          var h = 0L
          var k = 0
          while (k < 7) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
          h = (h << 4) | ((d(7) & 0xFF) >>> 4)
          if (h % divisor == 0) { edges(ne) = p; ne += 1 }
          p += 1
        }
      } else {
        // decode code points once; roll h = Σ cp·B^(w-1-j) mod P
        val cps = new Array[Int](n)
        var j = 0
        while (j < n) {
          val s0 = off(j)
          val b0 = bytes(s0) & 0xFF
          cps(j) =
            if (b0 < 0x80) b0
            else if (b0 < 0xE0) ((b0 & 0x1F) << 6) | (bytes(s0 + 1) & 0x3F)
            else if (b0 < 0xF0)
              ((b0 & 0x0F) << 12) | ((bytes(s0 + 1) & 0x3F) << 6) |
                (bytes(s0 + 2) & 0x3F)
            else
              ((b0 & 0x07) << 18) | ((bytes(s0 + 1) & 0x3F) << 12) |
                ((bytes(s0 + 2) & 0x3F) << 6) | (bytes(s0 + 3) & 0x3F)
          j += 1
        }
        val bw = cdcPow(window - 1) // B^(w-1) mod P, the outgoing weight
        var h = 0L
        var p = 0
        while (p < window) { h = (h * CdcHashB + cps(p)) % CdcHashP; p += 1 }
        // p is 0-based index AFTER the first window = 1-based position `window`
        if (h % divisor == 0) { edges(ne) = window; ne += 1 }
        while (p < n) {
          // remove cps(p - window), admit cps(p); keep h in [0, P)
          h = ((h - cps(p - window) * bw % CdcHashP + CdcHashP) % CdcHashP *
            CdcHashB + cps(p)) % CdcHashP
          p += 1
          if (h % divisor == 0) { edges(ne) = p; ne += 1 }
        }
      }
    }
    if (edges(ne - 1) != n) { edges(ne) = n; ne += 1 }
    val out = new Array[Any](ne - 1)
    var e = 0
    while (e < ne - 1) {
      val a = edges(e)
      val b = edges(e + 1)
      out(e) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](a.toLong,
          UTF8String.fromBytes(bytes, off(a), off(b) - off(a))))
      e += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Hashed-gram feature buckets (see
    * [[graft.ops.Sampling.hashedNgramTf]] /
    * [[graft.ops.TextAnalysis.hashedTf]]) as ONE compiled pass per
    * document: tokenize (the [[wordShingles]] tokenization — SQL
    * space-only trim, regex split keeping boundary empties), then
    * emit md5-hex60 mod `dim` bucket ids for every unigram and — when
    * `bigrams` — every adjacent bigram ("a b"). Bit-identical to the
    * fold form's `pmod(conv(substring(md5(g),1,15),16,10), dim)`
    * chain, without the interpreted `transform` lambda that built
    * bigram strings one slice at a time. Duplicates kept (they ARE
    * the term frequencies); empty text → empty array (explode drops
    * the doc, matching the fold's `size >= 1` filter). */
  def hashedGramBuckets(s: UTF8String, dim: Int, bigrams: Boolean): ArrayData = {
    val raw = s.toString
    var b0 = 0
    var e = raw.length
    while (b0 < e && raw.charAt(b0) == ' ') b0 += 1
    while (e > b0 && raw.charAt(e - 1) == ' ') e -= 1
    val str = raw.substring(b0, e)
    val toks: Array[String] =
      if (str.isEmpty) Array.empty else wsPattern.split(str, -1)
    val n = toks.length
    val nb = if (bigrams && n >= 2) n - 1 else 0
    val out = new Array[Any](n + nb)
    val md = md5Local.get()
    def bucket(g: String): Integer = {
      md.reset()
      md.update(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      var h = 0L
      var k = 0
      while (k < 7) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
      h = (h << 4) | ((d(7) & 0xFF) >>> 4)
      Integer.valueOf((h % dim).toInt)
    }
    var i = 0
    while (i < n) { out(i) = bucket(toks(i)); i += 1 }
    var j = 0
    while (j < nb) { out(n + j) = bucket(toks(j) + " " + toks(j + 1)); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Mutable map state for the collapse folds: parallel key/value
    * lists, `null` lists = the SQL null map. */
  private[plans] final class MapState {
    var k: java.util.ArrayList[UTF8String] = new java.util.ArrayList()
    var v: java.util.ArrayList[UTF8String] = new java.util.ArrayList()
    def setNull(): Unit = { k = null; v = null }
    def set(keys: Array[UTF8String], vals: Array[UTF8String]): Unit = {
      if (keys == null) setNull()
      else {
        k = new java.util.ArrayList(); v = new java.util.ArrayList()
        var j = 0
        while (j < keys.length) { k.add(keys(j)); v.add(vals(j)); j += 1 }
      }
    }
    /** overwrite(this, (keys, vals)) — m1's surviving entries in order,
      * then all of m2's; SQL null propagation on either side. */
    def overlay(keys: Array[UTF8String], vals: Array[UTF8String]): Unit = {
      if (keys == null || k == null) { setNull(); return }
      val nk = new java.util.ArrayList[UTF8String]()
      val nv = new java.util.ArrayList[UTF8String]()
      var j = 0
      while (j < k.size()) {
        val key = k.get(j)
        var hit = false
        var q = 0
        while (!hit && q < keys.length) { hit = keys(q) == key; q += 1 }
        if (!hit) { nk.add(key); nv.add(v.get(j)) }
        j += 1
      }
      j = 0
      while (j < keys.length) { nk.add(keys(j)); nv.add(vals(j)); j += 1 }
      k = nk; v = nv
    }
    def toMapData: Any =
      if (k == null) null
      else new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          k.toArray(Array.empty[AnyRef])),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          v.toArray(Array.empty[AnyRef])))
  }

  /** Copy one map column element out of a (possibly buffer-reusing)
    * array: (keys, values) with cloned strings, or (null, null). */
  private[plans] def copyMapField(e: InternalRow, ordinal: Int)
      : (Array[UTF8String], Array[UTF8String]) = {
    if (e.isNullAt(ordinal)) return (null, null)
    val m = e.getMap(ordinal)
    val mn = m.numElements()
    val ka = new Array[UTF8String](mn)
    val va = new Array[UTF8String](mn)
    var j = 0
    while (j < mn) {
      ka(j) = m.keyArray().getUTF8String(j).clone()
      va(j) = if (m.valueArray().isNullAt(j)) null
        else m.valueArray().getUTF8String(j).clone()
      j += 1
    }
    (ka, va)
  }

  private[plans] def elemFloat(dt: DataType, name: String): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"$name requires array<float> or array<double>, got ${other.sql}")
  }
}

/** `cosine_sim(a, b)`: codegen cosine similarity over float/double
  * array columns. Nullable (zero-norm and malformed inputs → NULL). */
final case class CosineSimExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float|double> inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val aFloat = VectorOps.elemFloat(left.dataType, "cosine_sim")
  private lazy val bFloat = VectorOps.elemFloat(right.dataType, "cosine_sim")

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      aFloat, bFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r =
         |  graft.plans.VectorOps.cosine($a, $b, $aFloat, $bFloat);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object CosineSimExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CosineSimExpression].getName, "cosine_sim")
}

/** `char_mask(text)`: codegen ASCII char-set bitmap as
  * struct(lo BIGINT, hi BIGINT). */
final case class CharMaskExpression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_mask requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = StructType(Seq(
    StructField("lo", LongType, nullable = false),
    StructField("hi", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    VectorOps.charMask(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorOps.charMask($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_mask"
}

object CharMaskExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CharMaskExpression].getName, "char_mask")
}

/** `repetition_stats(text)`: codegen per-document repetition features
  * as struct(top_bigram_frac DOUBLE, dup_trigram_frac DOUBLE). */
final case class RepetitionStatsExpression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"repetition_stats requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = StructType(Seq(
    StructField("top_bigram_frac", DoubleType, nullable = true),
    StructField("dup_trigram_frac", DoubleType, nullable = true)))

  override def nullSafeEval(input: Any): Any =
    VectorOps.repetitionStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorOps.repetitionStats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "repetition_stats"
}

object RepetitionStatsExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[RepetitionStatsExpression].getName, "repetition_stats")
}

/** `word_shingles(text, n)`: codegen distinct word n-gram shingles. */
final case class WordShinglesExpression(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorOps.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorOps.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShinglesExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[WordShinglesExpression].getName, "word_shingles")
}

/** `lsh_bucket(vec, numPlanes)`: codegen sign-LSH bucket key. */
final case class LshBucketExpression(child: Expression, numPlanes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires array<float|double> input, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private lazy val vFloat = VectorOps.elemFloat(child.dataType, "lsh_bucket")

  override def nullSafeEval(input: Any): Any =
    VectorOps.lshBucket(input.asInstanceOf[ArrayData], numPlanes, vFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |java.lang.Long ${ev.value}_r =
         |  graft.plans.VectorOps.lshBucket($v, $numPlanes, $vFloat);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "lsh_bucket"
}

/** `cdc_chunks(text, window, divisor, useMd5)`: codegen content-defined
  * chunking — array<struct<start BIGINT, chunk STRING>>. */
final case class CdcChunksExpression(child: Expression, window: Int,
    divisor: Int, useMd5: Boolean) extends UnaryExpression {

  require(window >= 1 && divisor >= 1,
    s"cdc_chunks requires window >= 1 and divisor >= 1, got $window/$divisor")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("chunk", StringType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorOps.cdcChunks(input.asInstanceOf[UTF8String], window, divisor, useMd5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.VectorOps.cdcChunks($c, $window, $divisor, $useMd5)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "cdc_chunks"
}

object CdcChunksExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CdcChunksExpression].getName, "cdc_chunks")
}

/** `winnow_fingerprints(text, k, w)`: codegen winnowing fingerprint
  * selection (Schleimer/Wilkerson/Aiken, SIGMOD 2003) —
  * array<struct<pos INT, h BIGINT>>, the selected 0-based gram
  * positions with their md5-hex60 gram hashes. One compiled pass per
  * document: the DataFrame form's ×w window explode + (id, s)-keyed
  * row_number shuffle disappear entirely — selection is a monotonic
  * deque over the gram-hash sequence, O(L) amortized, and the only
  * thing that ever leaves the row is the ≈2L/(w+1) fingerprint set. */
final case class WinnowFingerprintsExpression(child: Expression, k: Int,
    w: Int) extends UnaryExpression {

  require(k >= 1 && w >= 1,
    s"winnow_fingerprints requires k >= 1 and w >= 1, got $k/$w")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("h", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorOps.winnowFingerprints(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.VectorOps.winnowFingerprints($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "winnow_fingerprints"
}

object WinnowFingerprintsExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[WinnowFingerprintsExpression].getName, "winnow_fingerprints")
}

/** `excise_positions(text, cuts)`: codegen span excision — rewrite a
  * document with every token whose 0-based position falls inside any
  * `[s, e]` interval of `cuts` removed. Returns
  * struct<clean_text STRING, n_kept INT>. One compiled pass
  * (sort+merge the interval list, then a two-pointer token walk)
  * replacing the interpreted per-token × per-interval
  * `transform`+`exists` lambda that the span-removal ops paid on
  * every corpus token. Intervals may arrive unsorted, overlapping,
  * or out of range — the kernel normalizes them; null array elements
  * and null-field structs (reachable via SQL literals, never from the
  * in-repo collect_list callers) are skipped as empty intervals, so
  * the kernel is total over its accepted containsNull type. */
final case class ExcisePositionsExpression(left: Expression,
    right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(st: StructType, _))
          if st.length == 2 &&
            st.fields.forall(_.dataType == IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"excise_positions requires (STRING, ARRAY<STRUCT<INT, INT>>), " +
          s"got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false)))

  override def nullSafeEval(text: Any, cuts: Any): Any =
    VectorOps.excisePositions(text.asInstanceOf[UTF8String],
      cuts.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, c) => s"graft.plans.VectorOps.excisePositions($t, $c)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "excise_positions"
}

object ExcisePositionsExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[ExcisePositionsExpression].getName, "excise_positions")
}

/** `hashed_gram_buckets(text, dim, bigrams)`: codegen hashed-feature
  * bucket ids — array<int>, duplicates kept (term frequencies). */
final case class HashedGramBucketsExpression(child: Expression, dim: Int,
    bigrams: Boolean) extends UnaryExpression {

  require(dim >= 1, s"hashed_gram_buckets requires dim >= 1, got $dim")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hashed_gram_buckets requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorOps.hashedGramBuckets(input.asInstanceOf[UTF8String], dim, bigrams)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.VectorOps.hashedGramBuckets($c, $dim, $bigrams)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hashed_gram_buckets"
}

object HashedGramBucketsExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[HashedGramBucketsExpression].getName, "hashed_gram_buckets")
}

/** `md5_lsh_keys(vec)`: codegen multi-table sign-LSH bucket keys with
  * md5-derived integer planes — the native form of
  * [[graft.ops.Similarity.lshTopKMd5]]'s `tableKeys` fold, which
  * evaluated numTables × numPlanes interpreted `aggregate(zip_with)`
  * folds per vector (4 096 lambda evals per row at 8×8×dim64).
  * Semantics preserved exactly: elements quantize as
  * `floor(double(x)·1000)`, plane component (t,p,j) is the first 15
  * hex chars of md5("t,p,j") mod 1000001 − 500000, the dot is exact
  * integer arithmetic, and a null element or a dim mismatch yields
  * all-zero buckets (the fold's null-dot → otherwise-0 behavior).
  * Returns `array<long>` of numTables buckets; `posexplode` supplies
  * the table index. */
final case class Md5LshKeysExpression(child: Expression, dim: Int,
    numPlanes: Int, numTables: Int) extends UnaryExpression {

  require(dim >= 1 && numPlanes >= 1 && numPlanes < 63 && numTables >= 1,
    s"md5_lsh_keys: bad dims $dim/$numPlanes/$numTables")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_lsh_keys requires array<float|double> input, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val vFloat = VectorOps.elemFloat(child.dataType, "md5_lsh_keys")

  // planes(t)(p)(j) — the md5PlaneComp chain, computed once per instance
  @transient private lazy val planes: Array[Array[Array[Long]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numTables, numPlanes, dim) { (t, p, j) =>
      val hex = md.digest(s"$t,$p,$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000001L - 500000L
    }
  }

  /** One vector's per-table buckets — called from eval and codegen. */
  def keys(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](numTables)
    var ok = n == dim
    var j = 0
    while (ok && j < n) { if (vec.isNullAt(j)) ok = false; j += 1 }
    if (!ok) {
      var t = 0
      while (t < numTables) { out(t) = 0L; t += 1 }
    } else {
      val quant = new Array[Long](dim)
      j = 0
      while (j < dim) {
        val x = if (vFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
        quant(j) = math.floor(x * 1000).toLong
        j += 1
      }
      var t = 0
      while (t < numTables) {
        var bucket = 0L
        var p = 0
        while (p < numPlanes) {
          val plane = planes(t)(p)
          var dot = 0L
          j = 0
          while (j < dim) { dot += quant(j) * plane(j); j += 1 }
          if (dot > 0) bucket |= (1L << p)
          p += 1
        }
        out(t) = bucket
        t += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    keys(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5LshKeys", this,
      classOf[Md5LshKeysExpression].getName)
    defineCodeGen(ctx, ev, c => s"$ref.keys($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "md5_lsh_keys"
}

/** `collapse_events(events)`: codegen per-key CDC event fold — the
  * fold [[CollapseByKey]] runs per key for
  * [[graft.apply.ApplyEngine.collapse]], and the native form of the
  * lambda `aggregate(array_sort(collect_list(…)), init, step)`, which
  * evaluated an interpreted comparator per sort comparison and an
  * interpreted step lambda (with `map_filter` + `map_concat` map
  * rebuilds) per EVENT. Semantics preserved exactly:
  *  - events sort by their `ord` field under the SQL `<` ordering,
  *    nulls first, via a stable sort — tie order is the input order,
  *    as in `array_sort`;
  *  - fold: `row` replaces, `del` tombstones (patch-after-delete
  *    increments `viol`), first patch on `base` adopts the event map,
  *    later patches overlay column-wise in `overwrite`'s exact entry
  *    order (m1's surviving entries in order, then m2's);
  *  - SQL null propagation: a null event map nulls the accumulated
  *    map exactly where `map_filter`/`map_concat` would.
  * Input: `array<struct<ord: any-orderable, op: string,
  * vals: map<string,string>>>`; output
  * `struct<st: string, vals: map<string,string>, viol: int>`. */
final case class CollapseEventsExpression(child: Expression)
    extends UnaryExpression {

  private def elemType: StructType =
    child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 3 && st.fieldNames.sameElements(Seq("ord", "op", "vals")) &&
          st(1).dataType == StringType &&
          (st(2).dataType match {
            case MapType(StringType, StringType, _) => true
            case _ => false
          }) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "collapse_events requires array<struct<ord, op: string, " +
        s"vals: map<string,string>>>, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("st", StringType, nullable = false),
    StructField("vals", MapType(StringType, StringType), nullable = true),
    StructField("viol", IntegerType, nullable = false)))

  @transient private lazy val ordOrdering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(elemType.head.dataType)
      .asInstanceOf[Ordering[Any]]
  @transient private lazy val ordType = elemType.head.dataType
  @transient private lazy val valsType =
    elemType(2).dataType.asInstanceOf[MapType]

  private val ROW = UTF8String.fromString("row")
  private val DEL = UTF8String.fromString("del")
  private val PATCH = UTF8String.fromString("patch")
  private val BASE = UTF8String.fromString("base")

  /** The fold, on one key's collected events. */
  def fold(events: ArrayData): InternalRow = {
    val n = events.numElements()
    // copy out (ord, op, vals) — the backing UnsafeArrayData reuses
    // its row cursor, so struct handles must be materialized
    val ords = new Array[Any](n)
    val ops = new Array[UTF8String](n)
    val keys = new Array[Array[UTF8String]](n)   // null array = null map
    val vals = new Array[Array[UTF8String]](n)
    var i = 0
    while (i < n) {
      val e = events.getStruct(i, 3)
      ords(i) = if (e.isNullAt(0)) null else e.get(0, ordType)
      ops(i) = e.getUTF8String(1)
      if (e.isNullAt(2)) { keys(i) = null; vals(i) = null }
      else {
        val m = e.getMap(2)
        val mn = m.numElements()
        val ka = new Array[UTF8String](mn)
        val va = new Array[UTF8String](mn)
        var j = 0
        while (j < mn) {
          // clone: these strings can flow into the RETURNED map, and
          // unsafe-backed inputs may reuse their buffer after eval
          ka(j) = m.keyArray().getUTF8String(j).clone()
          va(j) = if (m.valueArray().isNullAt(j)) null
            else m.valueArray().getUTF8String(j).clone()
          j += 1
        }
        keys(i) = ka; vals(i) = va
      }
      i += 1
    }
    // stable sort on ord only, NULLS FIRST. A "null compares equal to
    // everything" comparator is non-transitive for mixed null/non-null
    // ords and TimSort may throw "Comparison method violates its
    // general contract!" at n >= 32 — nulls-first is total, and the
    // fold twin's comparator uses the same rule (ApplyPropertySpec
    // pins the equivalence, mixed-null case included).
    val idx = Array.tabulate[Integer](n)(Integer.valueOf)
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val (x, y) = (ords(a.intValue), ords(b.intValue))
      if (x == null && y == null) 0
      else if (x == null) -1
      else if (y == null) 1
      else ordOrdering.compare(x, y)
    })
    var st = BASE
    // accumulated map as parallel key/value lists; null = SQL null map
    var accK: java.util.ArrayList[UTF8String] = new java.util.ArrayList()
    var accV: java.util.ArrayList[UTF8String] = new java.util.ArrayList()
    var viol = 0
    i = 0
    while (i < n) {
      val e = idx(i).intValue
      val op = ops(e)
      if (op == ROW) {
        st = ROW
        if (keys(e) == null) { accK = null; accV = null }
        else {
          accK = new java.util.ArrayList(); accV = new java.util.ArrayList()
          var j = 0
          while (j < keys(e).length) {
            accK.add(keys(e)(j)); accV.add(vals(e)(j)); j += 1
          }
        }
      } else if (op == DEL) {
        st = DEL
        accK = new java.util.ArrayList(); accV = new java.util.ArrayList()
      } else { // patch
        if (st == DEL) viol += 1
        else if (st == BASE) {
          st = PATCH
          if (keys(e) == null) { accK = null; accV = null }
          else {
            accK = new java.util.ArrayList(); accV = new java.util.ArrayList()
            var j = 0
            while (j < keys(e).length) {
              accK.add(keys(e)(j)); accV.add(vals(e)(j)); j += 1
            }
          }
        } else { // row|patch overlay: overwrite(acc, ev)
          if (keys(e) == null || accK == null) { accK = null; accV = null }
          else {
            val ek = keys(e)
            val nk = new java.util.ArrayList[UTF8String]()
            val nv = new java.util.ArrayList[UTF8String]()
            var j = 0
            while (j < accK.size()) {
              val k = accK.get(j)
              var hit = false
              var q = 0
              while (!hit && q < ek.length) { hit = ek(q) == k; q += 1 }
              if (!hit) { nk.add(k); nv.add(accV.get(j)) }
              j += 1
            }
            j = 0
            while (j < ek.length) { nk.add(ek(j)); nv.add(vals(e)(j)); j += 1 }
            accK = nk; accV = nv
          }
        }
      }
      i += 1
    }
    val outMap: Any =
      if (accK == null) null
      else new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          accK.toArray(Array.empty[AnyRef])),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          accV.toArray(Array.empty[AnyRef])))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](st, outMap, viol))
  }

  override def nullSafeEval(input: Any): Any =
    fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("collapseEvents", this,
      classOf[CollapseEventsExpression].getName)
    defineCodeGen(ctx, ev, c => s"$ref.fold($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "collapse_events"
}

/** `dot_long(a, b)`: codegen exact integer dot product. */
final case class DotLongExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_long requires array<bigint> inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Long ${ev.value}_r = graft.plans.VectorOps.dotLong($a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_long"
}

/** `quantize_long(vec, scale)`: codegen floor(x·scale) quantization. */
final case class QuantizeLongExpression(child: Expression, scale: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_long requires array<float|double> input, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  private lazy val vFloat = VectorOps.elemFloat(child.dataType, "quantize_long")

  override def nullSafeEval(input: Any): Any =
    VectorOps.quantizeLong(input.asInstanceOf[ArrayData], scale, vFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.VectorOps.quantizeLong($c, $scale, $vFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "quantize_long"
}

/** `sq_encode(qv, st, levels)`: codegen SQ scalar-quantization codes. */
final case class SqEncodeExpression(left: Expression, right: Expression,
    levels: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(_: StructType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_encode requires (array<bigint>, array<struct>), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.sqEncode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], levels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.VectorOps.sqEncode($a, $b, $levels)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sq_encode"
}

/** `sq_reconstruct(codes, st, levels)`: codegen SQ reconstruction. */
final case class SqReconstructExpression(left: Expression, right: Expression,
    levels: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(_: StructType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_reconstruct requires (array<int>, array<struct>), got ${l.sql}, ${r.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.sqReconstruct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], levels)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.VectorOps.sqReconstruct($a, $b, $levels)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sq_reconstruct"
}

/** `char_bits(text)`: codegen distinct folded char-bit ids. */
final case class CharBitsExpression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_bits requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorOps.charBits(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorOps.charBits($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_bits"
}

object CharBitsExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CharBitsExpression].getName, "char_bits")
}

/** `nfc_normalize(text)`: codegen Unicode NFC canonical composition —
  * see [[VectorOps.nfcNormalize]]. */
final case class NfcNormalizeExpression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    VectorOps.nfcNormalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorOps.nfcNormalize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalizeExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[NfcNormalizeExpression].getName, "nfc_normalize")
}

/** `collapse_partial(events)`: the PHASE-1 kernel of
  * [[graft.apply.ApplyEngine.collapseSkewResistant]] — fold one
  * (key, time-bucket) range's sorted events into the monoid partial
  * `struct<st, vals, viol, lead>` (`lead` = leading patches whose
  * violation status depends on the PREVIOUS range). Same input
  * contract and sort/null semantics as [[CollapseEventsExpression]];
  * the interpreted fold twin stays as the property spec's reference. */
final case class CollapsePartialExpression(child: Expression)
    extends UnaryExpression {

  private def elemType: StructType =
    child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 3 && st.fieldNames.sameElements(Seq("ord", "op", "vals")) &&
          st(1).dataType == StringType &&
          (st(2).dataType match {
            case MapType(StringType, StringType, _) => true
            case _ => false
          }) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "collapse_partial requires array<struct<ord, op: string, " +
        s"vals: map<string,string>>>, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("st", StringType, nullable = false),
    StructField("vals", MapType(StringType, StringType), nullable = true),
    StructField("viol", IntegerType, nullable = false),
    StructField("lead", IntegerType, nullable = false)))

  @transient private lazy val ordOrdering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(elemType.head.dataType)
      .asInstanceOf[Ordering[Any]]
  @transient private lazy val ordType = elemType.head.dataType

  private val ROW = UTF8String.fromString("row")
  private val DEL = UTF8String.fromString("del")
  private val PATCH = UTF8String.fromString("patch")
  private val BASE = UTF8String.fromString("base")

  def fold(events: ArrayData): InternalRow = {
    val n = events.numElements()
    val ords = new Array[Any](n)
    val ops = new Array[UTF8String](n)
    val keys = new Array[Array[UTF8String]](n)
    val vals = new Array[Array[UTF8String]](n)
    var i = 0
    while (i < n) {
      val e = events.getStruct(i, 3)
      ords(i) = if (e.isNullAt(0)) null else e.get(0, ordType)
      ops(i) = e.getUTF8String(1)
      val (ka, va) = VectorOps.copyMapField(e, 2)
      keys(i) = ka; vals(i) = va
      i += 1
    }
    // nulls-first total ordering — see CollapseEventsExpression.fold
    val idx = Array.tabulate[Integer](n)(Integer.valueOf)
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val (x, y) = (ords(a.intValue), ords(b.intValue))
      if (x == null && y == null) 0
      else if (x == null) -1
      else if (y == null) 1
      else ordOrdering.compare(x, y)
    })
    var st = BASE
    val acc = new VectorOps.MapState
    var viol = 0
    var lead = 0
    i = 0
    while (i < n) {
      val e = idx(i).intValue
      val op = ops(e)
      if (op == ROW) { st = ROW; acc.set(keys(e), vals(e)) }
      else if (op == DEL) {
        st = DEL
        acc.k = new java.util.ArrayList(); acc.v = new java.util.ArrayList()
      } else { // patch singleton: lead 1
        if (st == BASE || st == PATCH) lead += 1
        if (st == DEL) viol += 1
        else if (st == BASE) { st = PATCH; acc.set(keys(e), vals(e)) }
        else acc.overlay(keys(e), vals(e))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](st, acc.toMapData, viol, lead))
  }

  override def nullSafeEval(input: Any): Any =
    fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("collapsePartial", this,
      classOf[CollapsePartialExpression].getName)
    defineCodeGen(ctx, ev, c => s"$ref.fold($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "collapse_partial"
}

/** `compose_partials(parts)`: the PHASE-2 kernel of
  * [[graft.apply.ApplyEngine.collapseSkewResistant]] — compose the
  * per-bucket monoid partials in bucket order and emit the final
  * `struct<st, vals, viol>` (lead drops out). Input:
  * `array<struct<bucket: bigint, partial: struct<st, vals, viol,
  * lead>>>`; a stable sort on bucket keeps the fold's tie behavior
  * (buckets are distinct by construction). */
final case class ComposePartialsExpression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.length == 2 && st.fieldNames.sameElements(Seq("bucket", "partial")) &&
          st.head.dataType == LongType &&
          st(1).dataType.isInstanceOf[StructType] &&
          st(1).dataType.asInstanceOf[StructType].length == 4 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "compose_partials requires array<struct<bucket: bigint, " +
        s"partial: struct<st,vals,viol,lead>>>, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("st", StringType, nullable = false),
    StructField("vals", MapType(StringType, StringType), nullable = true),
    StructField("viol", IntegerType, nullable = false)))

  private val ROW = UTF8String.fromString("row")
  private val DEL = UTF8String.fromString("del")
  private val PATCH = UTF8String.fromString("patch")
  private val BASE = UTF8String.fromString("base")

  def fold(parts: ArrayData): InternalRow = {
    val n = parts.numElements()
    val buckets = new Array[Long](n)
    val sts = new Array[UTF8String](n)
    val keys = new Array[Array[UTF8String]](n)
    val vals = new Array[Array[UTF8String]](n)
    val viols = new Array[Int](n)
    val leads = new Array[Int](n)
    var i = 0
    while (i < n) {
      val e = parts.getStruct(i, 2)
      buckets(i) = e.getLong(0)
      val p = e.getStruct(1, 4)
      sts(i) = p.getUTF8String(0).clone()
      val (ka, va) = VectorOps.copyMapField(p, 1)
      keys(i) = ka; vals(i) = va
      viols(i) = p.getInt(2)
      leads(i) = p.getInt(3)
      i += 1
    }
    val idx = Array.tabulate[Integer](n)(Integer.valueOf)
    java.util.Arrays.sort(idx,
      (a: Integer, b: Integer) =>
        java.lang.Long.compare(buckets(a.intValue), buckets(b.intValue)))
    // compose(a, b) over sorted partials — the exact transition table
    // of the Column `compose`
    var st = BASE
    val acc = new VectorOps.MapState
    var viol = 0
    var leadA = 0
    i = 0
    while (i < n) {
      val e = idx(i).intValue
      val bSt = sts(e)
      viol = viol + viols(e) + (if (st == DEL) leads(e) else 0)
      leadA = if (st == BASE || st == PATCH) leadA + leads(e) else leadA
      if (bSt == ROW || bSt == DEL) { st = bSt; acc.set(keys(e), vals(e)) }
      else if (bSt == BASE) () // a unchanged
      else { // b is a pure patch range
        if (st == DEL) () // stays del, keeps a's vals
        else if (st == BASE) { st = PATCH; acc.set(keys(e), vals(e)) }
        else acc.overlay(keys(e), vals(e))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](st, acc.toMapData, viol))
  }

  override def nullSafeEval(input: Any): Any =
    fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("composePartials", this,
      classOf[ComposePartialsExpression].getName)
    defineCodeGen(ctx, ev, c => s"$ref.fold($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "compose_partials"
}

/** `simhash_md5(text)`: codegen 60-bit md5 SimHash, one pass per doc. */
final case class SimHashMd5Expression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_md5 requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    VectorOps.simhashMd5(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorOps.simhashMd5($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash_md5"
}

object SimHashMd5Expression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[SimHashMd5Expression].getName, "simhash_md5")
}

/** `dhash_md5(media)`: codegen 63-bit perceptual dHash over a binary
  * payload (hashed-4-gram histogram gradients — see
  * [[VectorOps.dhashMd5]]). */
final case class DHashMd5Expression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dhash_md5 requires BINARY input, got ${child.dataType.sql}")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    VectorOps.dhashMd5(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorOps.dhashMd5($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "dhash_md5"
}

object DHashMd5Expression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[DHashMd5Expression].getName, "dhash_md5")
}

/** `positioned_grams(text, n)`: codegen word n-grams in position
  * order, duplicates kept. */
final case class PositionedGramsExpression(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"positioned_grams requires n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"positioned_grams requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorOps.positionedGrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VectorOps.positionedGrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "positioned_grams"
}

object PositionedGramsExpression {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[PositionedGramsExpression].getName, "positioned_grams")
}

/** `bpe_token_count(text)`: codegen BPE token count under a fixed
  * merge list — the native form of
  * `aggregate(transform(tokens, w => size(symbols(applyMerges(…)))))`
  * ([[graft.ops.Bpe.tokenCount]]), which evaluates an interpreted
  * lambda per WORD and another per CHARACTER. One compiled pass per
  * document: tokenize (the shared SQL-trim/split tokenization), wrap
  * each word's code points in U+0001 separators, run the literal
  * boundary-safe replace chain (Java `String.replace` = SQL `replace`:
  * all occurrences, left-to-right non-overlapping), and count symbols
  * with the same split semantics as the fold form (trailing empties
  * kept — degenerate empty words count 2, exactly like the fold's
  * `sequence(1,0)` quirk). The merge list rides on the expression
  * instance (codegen references it via `addReferenceObj`). */
final case class BpeTokenCountExpression(child: Expression,
    merges: Seq[(String, String)]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count requires STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = IntegerType

  private val SEP = "\u0001"
  @transient private lazy val pats: Array[String] =
    merges.map { case (l, r) => SEP + l + SEP + SEP + r + SEP }.toArray
  @transient private lazy val reps: Array[String] =
    merges.map { case (l, r) => SEP + l + r + SEP }.toArray
  @transient private lazy val wsPattern =
    java.util.regex.Pattern.compile("\\s+")
  @transient private lazy val sepSep =
    java.util.regex.Pattern.compile(SEP + SEP)

  /** One document's BPE token count — called from both eval and the
    * generated code. */
  def count(s: UTF8String): Int = {
    val raw = s.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val str = raw.substring(b, e)
    val toks: Array[String] =
      if (str.isEmpty) Array.empty else wsPattern.split(str, -1)
    var total = 0
    var w = 0
    while (w < toks.length) {
      val word = toks(w)
      val sb = new java.lang.StringBuilder(word.length * 3 + 2)
      sb.append(SEP)
      if (word.isEmpty) sb.append(SEP).append(SEP) // the sequence(1,0) quirk
      else {
        var i = 0
        var first = true
        while (i < word.length) {
          val cp = word.codePointAt(i)
          if (!first) sb.append(SEP).append(SEP)
          sb.appendCodePoint(cp)
          first = false
          i += Character.charCount(cp)
        }
      }
      sb.append(SEP)
      var merged = sb.toString
      var m = 0
      while (m < pats.length) {
        merged = merged.replace(pats(m), reps(m))
        m += 1
      }
      total += sepSep.split(merged.substring(1, merged.length - 1), -1).length
      w += 1
    }
    total
  }

  override def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTokenCount", this,
      classOf[BpeTokenCountExpression].getName)
    defineCodeGen(ctx, ev, c => s"$ref.count($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bpe_token_count"
}
