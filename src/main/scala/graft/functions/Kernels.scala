package graft.functions

import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels invoked from generated code (each custom Expression
  * emits a single static call to one of these, so the surrounding plan stays
  * one whole-stage-codegen pipeline). Allocation-free on the hot path; JIT
  * compiles the loops to vectorized machine code.
  */
object Kernels {

  /** First bucket of a sorted (b, c) histogram whose cumulative count
    * reaches `rank` (1-based): struct(b, cum_before), or null when the rank
    * exceeds the histogram total — the [[graft.operators.ExactQuantiles]]
    * descent decision as one linear walk over ≤ B entries (replaces the
    * per-round window cumulative sum; r18).
    */
  def chooseBucket(hist: ArrayData, rank: Long): GenericInternalRow = {
    var cum = 0L
    var i = 0
    val n = hist.numElements()
    while (i < n) {
      val row = hist.getStruct(i, 2)
      val c = row.getLong(1)
      if (cum + c >= rank)
        return new GenericInternalRow(Array[Any](row.getLong(0), cum))
      cum += c
      i += 1
    }
    null
  }

  /** Cosine similarity over two numeric arrays, accumulating in double,
    * strictly left-to-right (deterministic across runs/engines).
    * Zero-norm input → 0.0 (poison-safe at scale).
    */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Euclidean norm of a float array (double accumulation, left-to-right). */
  def normF(a: ArrayData): Double = {
    var s = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    dot
  }

  /** Stable 64-bit hash of a UTF8 string (xxHash64 over the raw bytes). */
  @inline def hash64(s: UTF8String, seed: Long): Long =
    XXH64.hashUTF8String(s, seed)

  /** Oracle-replicable 60-bit hash: the first 15 hex chars of md5, i.e.
    * `CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)` in ANSI SQL.
    * 60 bits keeps the value positive in a signed 64-bit int on any engine.
    * ~10× the cost of xxHash64 — use the seeded variants where cross-engine
    * replication isn't required.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5hash60(bytes: Array[Byte], len: Int): Long = {
    val md = md5Local.get(); md.reset()
    md.update(bytes, 0, len)
    val d = md.digest()
    // first 15 hex chars == big-endian first 8 bytes >>> 4
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  @inline def md5hash60(s: UTF8String): Long = {
    val b = s.getBytes; md5hash60(b, b.length)
  }

  /** 64-bit SimHash over a token array: per-token xxHash64, each bit votes
    * +1/-1, sign of the vote gives the fingerprint bit. One pass, O(tokens).
    */
  def simhash64(tokens: ArrayData, seed: Long): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hash64(tokens.getUTF8String(i), seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L; var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** SimHash via [[md5hash60]] — 60 effective bits (top 4 always 0), so a
    * SQL oracle can rebuild the fingerprint from md5 alone. Same vote
    * semantics as [[simhash64]].
    */
  def simhash64Md5(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = md5hash60(tokens.getUTF8String(i))
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L; var j = 0
    while (j < 60) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** MinHash signature of size k: one base xxHash64 per token, then k
    * universal-hash permutations h_i = a_i*base + b_i (odd multipliers from a
    * seeded splitmix), unsigned-min per permutation. O(tokens*k), one pass,
    * no per-row allocation beyond the signature itself.
    */
  def minhash(tokens: ArrayData, k: Int, seed: Long): GenericArrayData = {
    val as = mixA(k, seed); val bs = mixB(k, seed)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, -1L) // unsigned max
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val base = hash64(tokens.getUTF8String(i), seed)
        var j = 0
        while (j < k) {
          val h = as(j) * base + bs(j)
          if (java.lang.Long.compareUnsigned(h, mins(j)) < 0) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** MinHash signature computed directly from a TOKEN array with inline word
    * n-gram shingling — one pass, no materialized shingle strings (the
    * `transform`/`array_join` higher-order-function route costs interpreted
    * lambda evaluation per shingle; this is pure kernel code). Shingle hash =
    * xxHash64 over the UTF-8 bytes of the n tokens joined by ' '. Shorter-
    * than-n docs hash the whole token sequence as one shingle.
    */
  def minhashShingled(tokens: ArrayData, n: Int, k: Int, seed: Long):
      GenericArrayData = {
    val as = mixA(k, seed); val bs = mixB(k, seed)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, -1L)
    val m = tokens.numElements()
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val eff = math.max(1, m - n + 1)
    val width = if (m < n) m else n
    var buf = new Array[Byte](64)
    var s = 0
    while (s < eff) {
      var len = 0
      var j = 0
      while (j < width && s + j < m) {
        val t = toks(s + j)
        if (len + t.length + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + t.length + 1))
        if (j > 0) { buf(len) = ' '.toByte; len += 1 }
        System.arraycopy(t, 0, buf, len, t.length); len += t.length
        j += 1
      }
      val base = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, seed)
      var p = 0
      while (p < k) {
        val h = as(p) * base + bs(p)
        if (java.lang.Long.compareUnsigned(h, mins(p)) < 0) mins(p) = h
        p += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  /** Distinct word n-gram shingle set, built in one kernel pass (same
    * shingling rules as [[minhashShingled]]: tokens joined by ' ';
    * shorter-than-n docs produce one whole-doc shingle). Returns
    * array<string> for exact set intersection/union verification.
    */
  def shingleSet(tokens: ArrayData, n: Int): GenericArrayData = {
    val m = tokens.numElements()
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val eff = math.max(1, m - n + 1)
    val width = if (m < n) m else n
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var buf = new Array[Byte](64)
    var s = 0
    while (s < eff) {
      var len = 0
      var j = 0
      while (j < width && s + j < m) {
        val t = toks(s + j)
        if (len + t.length + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + t.length + 1))
        if (j > 0) { buf(len) = ' '.toByte; len += 1 }
        System.arraycopy(t, 0, buf, len, t.length); len += t.length
        j += 1
      }
      seen.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, len)))
      s += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken): hash every
    * word n-gram (rolling over the token array), then slide a window of
    * `w` hashes and keep each window's minimum (rightmost on ties). The
    * selected hash set is position-independent and guarantees any shared
    * run of ≥ w+n-1 tokens yields a shared fingerprint — the standard
    * plagiarism/near-dup detector at corpus scale.
    */
  def winnow(tokens: ArrayData, n: Int, w: Int, seed: Long): GenericArrayData =
    winnowImpl(tokens, n, w, seed, md5 = false)

  /** [[winnow]] with the oracle-replicable [[md5hash60]] gram hash. */
  def winnowMd5(tokens: ArrayData, n: Int, w: Int): GenericArrayData =
    winnowImpl(tokens, n, w, 0L, md5 = true)

  private def winnowImpl(tokens: ArrayData, n: Int, w: Int, seed: Long,
                         md5: Boolean): GenericArrayData = {
    val m = tokens.numElements()
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val eff = math.max(1, m - n + 1)
    val width = if (m < n) m else n
    val hashes = new Array[Long](eff)
    var buf = new Array[Byte](64)
    var s = 0
    while (s < eff) {
      var len = 0
      var j = 0
      while (j < width && s + j < m) {
        val t = toks(s + j)
        if (len + t.length + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + t.length + 1))
        if (j > 0) { buf(len) = ' '.toByte; len += 1 }
        System.arraycopy(t, 0, buf, len, t.length); len += t.length
        j += 1
      }
      hashes(s) =
        if (md5) md5hash60(buf, len)
        else XXH64.hashUnsafeBytes(buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, seed)
      s += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (eff <= w) {
      var mn = hashes(0); var p = 1
      while (p < eff) { if (java.lang.Long.compareUnsigned(hashes(p), mn) <= 0) mn = hashes(p); p += 1 }
      out.add(mn)
    } else {
      var start = 0
      while (start + w <= eff) {
        var mn = hashes(start); var p = start + 1
        while (p < start + w) {
          if (java.lang.Long.compareUnsigned(hashes(p), mn) <= 0) mn = hashes(p)
          p += 1
        }
        out.add(mn)
        start += 1
      }
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator(); var idx = 0
    while (it.hasNext) { arr(idx) = it.next(); idx += 1 }
    new GenericArrayData(arr)
  }

  /** Hash bucket of a gram's UTF-8 bytes: md5 family = [[md5hash60]] mod
    * `buckets` (the oracle's `conv(substring(md5(g),1,15),16,10) % buckets`
    * arithmetic — md5hash60 is non-negative so plain `%` IS pmod); xxhash64
    * family = `pmod(xxhash64(g), buckets)` with Spark's default seed 42.
    */
  @inline private def gramBucket(buf: Array[Byte], len: Int, buckets: Int,
                                 md5: Boolean): Long =
    if (md5) md5hash60(buf, len) % buckets
    else {
      val h = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      val r = h % buckets
      if (r < 0) r + buckets else r
    }

  /** The DSIR feature-bucket stream of a token array — hash buckets of the
    * unigrams then the adjacent word bigrams, WITH multiplicity: exactly the
    * multiset `CorpusOps.dsirGrams` builds as strings, but in one kernel
    * pass with no gram-string materialization (bigram bytes are joined with
    * ' ' in a reused buffer, the [[shingleSet]] idiom) and no interpreted
    * higher-order-function lambda (the `explode(transform(...))` +
    * `conv(substring(md5(..)))` route evaluates every gram through
    * CodegenFallback eval — measured as the dominant cost of the
    * corpus_importance counting pass).
    */
  def dsirBuckets(tokens: ArrayData, buckets: Int, md5: Boolean):
      GenericArrayData = {
    val m = tokens.numElements()
    if (m == 0) return new GenericArrayData(Array.emptyLongArray)
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val n = if (m >= 2) 2 * m - 1 else m.toInt
    val out = new Array[Long](n)
    i = 0
    while (i < m) {
      out(i) = gramBucket(toks(i), toks(i).length, buckets, md5)
      i += 1
    }
    var buf = new Array[Byte](64)
    var s = 0
    while (s < m - 1) {
      val a = toks(s); val b = toks(s + 1)
      val len = a.length + 1 + b.length
      if (len > buf.length) buf = new Array[Byte](math.max(buf.length * 2, len))
      System.arraycopy(a, 0, buf, 0, a.length)
      buf(a.length) = ' '.toByte
      System.arraycopy(b, 0, buf, a.length + 1, b.length)
      out(m + s) = gramBucket(buf, len, buckets, md5)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Σ over the [[dsirBuckets]] stream of `lw(bucket)` — the DSIR scoring
    * pass as ONE codegen'd static call per document (the weight table rides
    * as an expression reference object, the [[nearestCentroid]] pattern).
    * `lw.length` is the bucket count. Exact-integer sum, order-independent —
    * bit-identical to the `aggregate(...)` + `element_at(array literal)`
    * formulation it replaces.
    */
  def dsirScoreSum(tokens: ArrayData, lw: Array[Long], md5: Boolean): Long = {
    val buckets = lw.length
    val m = tokens.numElements()
    if (m == 0) return 0L
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    var sum = 0L
    i = 0
    while (i < m) {
      sum += lw(gramBucket(toks(i), toks(i).length, buckets, md5).toInt)
      i += 1
    }
    var buf = new Array[Byte](64)
    var s = 0
    while (s < m - 1) {
      val a = toks(s); val b = toks(s + 1)
      val len = a.length + 1 + b.length
      if (len > buf.length) buf = new Array[Byte](math.max(buf.length * 2, len))
      System.arraycopy(a, 0, buf, 0, a.length)
      buf(a.length) = ' '.toByte
      System.arraycopy(b, 0, buf, a.length + 1, b.length)
      sum += lw(gramBucket(buf, len, buckets, md5).toInt)
      s += 1
    }
    sum
  }

  /** Adjacent-token pairs as array<struct<w1,w2>> — one kernel pass instead
    * of the interpreted `transform(sequence(...), i -> struct(...))` lambda
    * (higher-order functions are CodegenFallback: per-element boxed eval,
    * measured as the dominant cost of the corpus_perplexity gram pass).
    * Fewer than 2 tokens → empty array (the adjacentPairs convention).
    * Elements REFERENCE the input token strings (no copy): the tokens array
    * is itself a fresh split() result, not a reused row buffer, and every
    * generated output row is projected before the next input row is read.
    */
  def adjacentPairs(tokens: ArrayData): GenericArrayData = {
    val m = tokens.numElements()
    if (m < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - 1)
    var prev: AnyRef = if (tokens.isNullAt(0)) null else tokens.getUTF8String(0)
    var i = 0
    while (i < m - 1) {
      val nxt: AnyRef =
        if (tokens.isNullAt(i + 1)) null else tokens.getUTF8String(i + 1)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](prev, nxt))
      prev = nxt
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Ordered word n-gram list WITH multiplicity (the
    * [[TextFunctions.ngramList]] convention: texts shorter than n tokens
    * yield an EMPTY list — unlike [[shingleSet]]'s whole-doc shingle), built
    * in one kernel pass: no interpreted transform/array_join/slice lambda
    * per gram.
    */
  def ngramList(tokens: ArrayData, n: Int): GenericArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Any](m - n + 1)
    var buf = new Array[Byte](64)
    var s = 0
    while (s <= m - n) {
      var len = 0
      var j = 0
      while (j < n) {
        val t = toks(s + j)
        if (len + t.length + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.max(buf.length * 2, len + t.length + 1))
        if (j > 0) { buf(len) = ' '.toByte; len += 1 }
        System.arraycopy(t, 0, buf, len, t.length); len += t.length
        j += 1
      }
      out(s) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, len))
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Overlapping token-window chunks — array<struct<chunk_no:int,
    * chunk:string, n_tokens:int>>, chunk i covering tokens
    * [i·stride, i·stride+size); a doc shorter than `size` yields exactly one
    * chunk (possibly empty for empty input) — the
    * [[TextFunctions.chunks]] convention, one kernel pass instead of a
    * transform/slice/array_join lambda chain per chunk.
    */
  def chunks(tokens: ArrayData, size: Int, stride: Int): GenericArrayData = {
    val m = tokens.numElements()
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val extra = math.max(m - size, 0)
    val nChunks = 1 + (extra + stride - 1) / stride
    val out = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val start = c * stride
      val end = math.min(start + size, m)
      val n = math.max(end - start, 0)
      var len = 0
      var j = start
      while (j < end) { len += toks(j).length + 1; j += 1 }
      val buf = new Array[Byte](math.max(len - 1, 0))
      var off = 0
      j = start
      while (j < end) {
        if (j > start) { buf(off) = ' '.toByte; off += 1 }
        System.arraycopy(toks(j), 0, buf, off, toks(j).length)
        off += toks(j).length
        j += 1
      }
      out(c) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](c, UTF8String.fromBytes(buf), n))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Ordered word n-gram list with the [[Dedup.shingles]] SHORT-DOC
    * convention: texts shorter than n tokens yield ONE whole-text gram
    * (contrast [[ngramList]]'s empty list). With multiplicity, order
    * preserved.
    */
  def shingleList(tokens: ArrayData, n: Int): GenericArrayData = {
    val m = tokens.numElements()
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val eff = math.max(1, m - n + 1)
    val width = if (m < n) m else n
    val out = new Array[Any](eff)
    var buf = new Array[Byte](64)
    var s = 0
    while (s < eff) {
      var len = 0
      var j = 0
      while (j < width && s + j < m) {
        val t = toks(s + j)
        if (len + t.length + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.max(buf.length * 2, len + t.length + 1))
        if (j > 0) { buf(len) = ' '.toByte; len += 1 }
        System.arraycopy(t, 0, buf, len, t.length); len += t.length
        j += 1
      }
      out(s) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, len))
      s += 1
    }
    new GenericArrayData(out)
  }

  /** (start position, 60-bit md5 gram hash) pairs per rolling n-token gram
    * — the [[Dedup.repeatedSubstringSpans]] position stream: one kernel
    * pass, hashing gram bytes directly ([[md5hash60]] == the oracle's
    * conv(substring(md5(...),1,15),16,10) on the space-joined gram).
    * Shorter-than-n docs yield an empty array (that operator's convention).
    */
  def posGramHashes(tokens: ArrayData, n: Int): GenericArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Any](m - n + 1)
    var buf = new Array[Byte](64)
    var s = 0
    while (s <= m - n) {
      var len = 0
      var j = 0
      while (j < n) {
        val t = toks(s + j)
        if (len + t.length + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.max(buf.length * 2, len + t.length + 1))
        if (j > 0) { buf(len) = ' '.toByte; len += 1 }
        System.arraycopy(t, 0, buf, len, t.length); len += t.length
        j += 1
      }
      out(s) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](s, md5hash60(buf, len)))
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Exact Jaccard similarity of two string arrays (treated as sets) in one
    * pass: hash-set of a, membership-count from distinct b. Returning the
    * ratio directly (not |∩| and |∪| separately) matters: Catalyst's project
    * collapsing would otherwise inline and re-evaluate a set-intersection
    * expression once per reference.
    */
  def jaccardSim(a: ArrayData, b: ArrayData): Double = {
    val sa = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) sa.add(a.getUTF8String(i)); i += 1
    }
    val sb = new java.util.HashSet[UTF8String]()
    var common = 0
    i = 0
    while (i < b.numElements()) {
      if (!b.isNullAt(i)) {
        val s = b.getUTF8String(i)
        if (sb.add(s) && sa.contains(s)) common += 1
      }
      i += 1
    }
    val union = sa.size() + sb.size() - common
    if (union == 0) 0.0 else common.toDouble / union.toDouble
  }

  /** Random-hyperplane sign sketch of a float vector: bit p of the result is
    * sign(Σ_d v(d)*w(p,d)) with ±1 weights derived from splitmix64(seed,p,d).
    * Deterministic, allocation-free; weights come from the same cached
    * constant table as minhash (one row of longs per plane, bit d = sign).
    */
  def hyperplaneSketch(vec: ArrayData, planes: Int, seed: Long): Long = {
    val n = vec.numElements()
    var out = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var d = 0
      while (d < n) {
        // deterministic ±1 weight: bit (d mod 64) of splitmix'd (seed,p,d/64)
        val word = mixWord(seed, p, d >>> 6)
        val w = if (((word >>> (d & 63)) & 1L) == 1L) 1.0 else -1.0
        proj += vec.getFloat(d).toDouble * w
        d += 1
      }
      if (proj >= 0.0) out |= (1L << p)
      p += 1
    }
    out
  }

  private val wordCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), java.lang.Long]()
  private def mixWord(seed: Long, p: Int, chunk: Int): Long =
    wordCache.computeIfAbsent((seed, p, chunk), { key =>
      var z = key._1 + 0x9e3779b97f4a7c15L * (key._2 * 131071L + key._3 + 1L)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      java.lang.Long.valueOf(z ^ (z >>> 31))
    }).longValue()

  /** [[hyperplaneSketch]] with md5-derived weights so a SQL oracle can
    * rebuild the exact buckets: the ±1 weight for (plane p, dim d) is bit
    * (d mod 60) of `md5hash60("<tag>:<p>:<d/60>")` — in ANSI SQL,
    * `(CAST(concat('0x', substr(md5(tag||':'||p||':'||(d//60)), 1, 15))
    * AS BIGINT) >> (d % 60)) & 1`. Same sign/accumulation semantics as the
    * seeded variant (strict left-to-right double sum, proj >= 0 → bit set);
    * the weight words are cached per (tag, plane, chunk), so the md5 cost is
    * O(planes·dim/60) per JVM, not per row.
    */
  def hyperplaneSketchMd5(vec: ArrayData, planes: Int, tag: String): Long = {
    val n = vec.numElements()
    var out = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var d = 0
      while (d < n) {
        val w = if (((md5Word(tag, p, d / 60) >>> (d % 60)) & 1L) == 1L) 1.0 else -1.0
        proj += vec.getFloat(d).toDouble * w
        d += 1
      }
      if (proj >= 0.0) out |= (1L << p)
      p += 1
    }
    out
  }

  private val md5WordCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), java.lang.Long]()
  private def md5Word(tag: String, p: Int, chunk: Int): Long =
    md5WordCache.computeIfAbsent((tag, p, chunk), { key =>
      java.lang.Long.valueOf(
        md5hash60(UTF8String.fromString(s"${key._1}:${key._2}:${key._3}")))
    }).longValue()

  /** Index of the nearest centroid by cosine up to the per-row constant:
    * argmax over cells of dot(v, c)/|c|, ties to the LOWEST cell id (a SQL
    * oracle replicates the tie with `ORDER BY score DESC, cell`). `cents` is
    * the row-major flat centroid matrix (ncells × dim doubles), `norms` the
    * per-centroid euclidean norms — both precomputed once on the driver and
    * shipped as expression reference objects, so the corpus-wide assignment
    * pass is one codegen'd static call with zero per-row boxing.
    */
  def nearestCentroid(vec: ArrayData, cents: Array[Double],
                      norms: Array[Double], dim: Int): Int = {
    val ncells = norms.length
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < ncells) {
      val off = c * dim
      val n = math.min(vec.numElements(), dim)
      var d = 0.0; var i = 0
      while (i < n) { d += vec.getFloat(i).toDouble * cents(off + i); i += 1 }
      val score = d / norms(c)
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` nearest centroid ids by the same score/tie order as
    * [[nearestCentroid]] (insertion sort over the bounded probe list — nprobe
    * is single-digit in practice).
    */
  def probeCentroids(vec: ArrayData, cents: Array[Double], norms: Array[Double],
                     dim: Int, nprobe: Int): ArrayData = {
    val ncells = norms.length
    val m = math.min(nprobe, ncells)
    val topCell = new Array[Int](m)
    val topScore = new Array[Double](m)
    java.util.Arrays.fill(topScore, Double.NegativeInfinity)
    var c = 0
    while (c < ncells) {
      val off = c * dim
      val n = math.min(vec.numElements(), dim)
      var d = 0.0; var i = 0
      while (i < n) { d += vec.getFloat(i).toDouble * cents(off + i); i += 1 }
      val score = d / norms(c)
      // strict > : on score ties the earlier (lower) cell id stays ahead
      var j = m - 1
      if (score > topScore(j)) {
        while (j > 0 && score > topScore(j - 1)) {
          topScore(j) = topScore(j - 1); topCell(j) = topCell(j - 1); j -= 1
        }
        topScore(j) = score; topCell(j) = c
      }
      c += 1
    }
    new GenericArrayData(topCell)
  }

  // SplitMix64-derived deterministic permutation constants, cached per (k,seed).
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()
  private def perms(k: Int, seed: Long): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent((k, seed), { key =>
      val (kk, s) = key
      var x = s
      def next(): Long = { // splitmix64
        x += 0x9e3779b97f4a7c15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val a = Array.fill(kk)(next() | 1L) // odd multipliers
      val b = Array.fill(kk)(next())
      (a, b)
    })
  private def mixA(k: Int, seed: Long): Array[Long] = perms(k, seed)._1
  private def mixB(k: Int, seed: Long): Array[Long] = perms(k, seed)._2

  /** Product-quantization encode: for each of `m` subspaces (contiguous
    * `dsub`-dim slices), the index of the L2-nearest codeword. Codebook
    * layout: `cb[((s*ncode)+c)*dsub + i]`. Strict `<` with ascending scan
    * keeps the LOWEST index on ties — mirrored by the oracle's
    * `ORDER BY dist, c`. Dims past the vector's length read as 0
    * (ragged-input guard, same convention as [[nearestCentroid]]).
    */
  def pqEncode(vec: ArrayData, cb: Array[Double], m: Int, dsub: Int,
               ncode: Int): GenericArrayData = {
    val n = vec.numElements()
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0; var bestDist = Double.PositiveInfinity
      var c = 0
      while (c < ncode) {
        val off = ((s * ncode) + c) * dsub
        var d = 0.0; var i = 0
        while (i < dsub) {
          val vi = s * dsub + i
          val x = (if (vi < n) vec.getFloat(vi).toDouble else 0.0) - cb(off + i)
          d += x * x; i += 1
        }
        if (d < bestDist) { bestDist = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** Asymmetric-distance (ADC) score: the query's dot product against the
    * RECONSTRUCTED corpus vector — `Σ_s Σ_i q[s*dsub+i] · cb[s, codes[s], i]`
    * — so the corpus side rides as `m` ints, never the original floats.
    */
  def pqAdcScore(codes: ArrayData, q: ArrayData, cb: Array[Double], m: Int,
                 dsub: Int, ncode: Int): Double = {
    val nq = q.numElements()
    var score = 0.0
    var s = 0
    while (s < m) {
      val off = ((s * ncode) + codes.getInt(s)) * dsub
      var i = 0
      while (i < dsub) {
        val qi = s * dsub + i
        if (qi < nq) score += q.getFloat(qi).toDouble * cb(off + i)
        i += 1
      }
      s += 1
    }
    score
  }

  /** Canonical text normalization: unicode NFC, lowercase, trim, collapse
    * runs of whitespace to single spaces. ASCII fast path avoids the
    * Normalizer + regex allocations for the common case.
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val str = s.toString
    var ascii = true
    var i = 0
    while (ascii && i < str.length) { if (str.charAt(i) >= 0x80) ascii = false; i += 1 }
    val nfc = if (ascii) str
      else java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC)
    val lower = nfc.toLowerCase(java.util.Locale.ROOT)
    UTF8String.fromString(lower.trim.replaceAll("\\s+", " "))
  }

  /** One dimension's contribution to a Morton (Z-order) value: clamp `v`
    * into [0, 2^bits) — out-of-range keys sort coarsely at the edge instead
    * of wrapping, which would break the curve's locality — then spread its
    * `bits` low bits with stride `d` starting at bit `i`. OR-ing the zparts
    * of d columns interleaves them into one curve position.
    */
  def zpart(v: Long, i: Int, d: Int, bits: Int): Long = {
    val max = (1L << bits) - 1L
    val c = if (v < 0L) 0L else if (v > max) max else v
    var out = 0L
    var j = 0
    while (j < bits) {
      out |= ((c >>> j) & 1L) << (j * d + i)
      j += 1
    }
    out
  }

  /** Hilbert curve position of a d-dimensional point — Skilling's
    * AxesToTranspose ("Programming the Hilbert curve", AIP Conf. Proc. 707,
    * 2004; public algorithm): clamp each coordinate into [0, 2^bits) (the
    * zpart edge convention), run the inverse-undo and Gray-encode passes in
    * place, then interleave the transposed bits with axis 0 most
    * significant. Unlike the Morton curve, every unit step along the
    * Hilbert curve moves exactly one coordinate by ±1 — no long diagonal
    * jumps at power-of-two boundaries — so contiguous curve segments are
    * tighter boxes and range predicates prune more files under the same
    * layout pass. d·bits must fit in 63.
    */
  def hilbertPos(coords: Array[Long], bits: Int): Long = {
    val d = coords.length
    val max = (1L << bits) - 1L
    val x = new Array[Long](d)
    var i = 0
    while (i < d) {
      val v = coords(i)
      x(i) = if (v < 0L) 0L else if (v > max) max else v
      i += 1
    }
    val m = 1L << (bits - 1)
    var q = m // inverse undo
    while (q > 1L) {
      val p = q - 1L
      i = 0
      while (i < d) {
        if ((x(i) & q) != 0L) x(0) ^= p // invert low bits of axis 0
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t } // exchange
        i += 1
      }
      q >>= 1
    }
    i = 1 // Gray encode
    while (i < d) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = m
    while (q > 1L) {
      if ((x(d - 1) & q) != 0L) t ^= q - 1L
      q >>= 1
    }
    i = 0
    while (i < d) { x(i) ^= t; i += 1 }
    // transposed bits -> index: bit j of axis i lands at j*d + (d-1-i)
    var out = 0L
    var j = 0
    while (j < bits) {
      i = 0
      while (i < d) {
        out |= ((x(i) >>> j) & 1L) << (j * d + (d - 1 - i))
        i += 1
      }
      j += 1
    }
    out
  }

  /** xxHash64 (seed 42 — Spark's `xxhash64()` SQL default) of every string
    * element, in one kernel pass — the candidate-side gram-hash stream of
    * `Dedup.ngramJaccardPairs` without the interpreted
    * `transform(a, s -> xxhash64(s))` lambda (array HOFs are
    * CodegenFallback: per-element boxed eval). A null element hashes to the
    * seed, exactly as Spark's XxHash64 leaves the running hash unchanged on
    * null input.
    */
  def hashStrings64(a: ArrayData): GenericArrayData = {
    val m = a.numElements()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) =
        if (a.isNullAt(i)) 42L
        else XXH64.hashUTF8String(a.getUTF8String(i), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Deletion-1 neighborhood of a string: the string itself plus every
    * single-codepoint deletion, first-occurrence deduplicated — the
    * SymSpell/FastSS blocking key set (`RecordLinkage.delKeys`) in one
    * kernel pass over the UTF-8 bytes instead of a
    * `transform(sequence(1, length(s)), i -> concat(substr, substr))`
    * interpreted lambda (O(len) substr/concat expression evals per row).
    * Deletions are by codepoint, matching Spark's `substr`/`length`
    * character semantics.
    */
  def deletionNeighborhood(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    val n = b.length
    val seen = new java.util.LinkedHashSet[UTF8String]()
    // defensive copy: `b` may alias the row buffer when offset/length align
    seen.add(UTF8String.fromBytes(java.util.Arrays.copyOf(b, n)))
    var i = 0
    while (i < n) {
      val l = UTF8String.numBytesForFirstByte(b(i))
      val end = math.min(i + l, n) // clamp: malformed tail can't overrun
      val out = new Array[Byte](n - (end - i))
      System.arraycopy(b, 0, out, 0, i)
      System.arraycopy(b, end, out, i, n - end)
      seen.add(UTF8String.fromBytes(out))
      i = end
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** The multi-line chunk view of a token array in ONE pass: the
    * [[chunks]] windows' strings joined by '\n' — equivalent to
    * `concat_ws("\n", transform(chunks(toks, size, stride), c -> c.chunk))`
    * without materializing the struct array or paying the interpreted
    * field-extraction lambda. Same convention as [[chunks]]: a doc shorter
    * than `size` yields exactly one chunk (possibly empty), so the empty
    * doc maps to "".
    */
  def chunkLines(tokens: ArrayData, size: Int, stride: Int): UTF8String = {
    val m = tokens.numElements()
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (tokens.isNullAt(i)) Array.emptyByteArray
        else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val extra = math.max(m - size, 0)
    val nChunks = 1 + (extra + stride - 1) / stride
    var outLen = nChunks - 1 // '\n' separators
    var c = 0
    while (c < nChunks) {
      val start = c * stride
      val end = math.min(start + size, m)
      var len = 0
      var j = start
      while (j < end) { len += toks(j).length + 1; j += 1 }
      outLen += math.max(len - 1, 0)
      c += 1
    }
    val buf = new Array[Byte](outLen)
    var off = 0
    c = 0
    while (c < nChunks) {
      if (c > 0) { buf(off) = '\n'.toByte; off += 1 }
      val start = c * stride
      val end = math.min(start + size, m)
      var j = start
      while (j < end) {
        if (j > start) { buf(off) = ' '.toByte; off += 1 }
        System.arraycopy(toks(j), 0, buf, off, toks(j).length)
        off += toks(j).length
        j += 1
      }
      c += 1
    }
    UTF8String.fromBytes(buf)
  }

  /** Join field #`ord` (a string) of every struct element with `delim`, in
    * one pass — the line-reassembly tail of `Dedup.lineDedupe` /
    * `StreamingLineDedupe.reassemble` without the interpreted
    * `array_join(transform(sorted, s -> s.line), delim)` lambda. Input is
    * the already-sorted struct array; a null element or null field
    * contributes an empty string (matching `array_join`'s null-drop over
    * `transform`'s null mapping is NOT needed here: lines are never null
    * by construction — posexplode/split output).
    */
  def joinStructField(a: ArrayData, ord: Int, numFields: Int,
                      delim: UTF8String): UTF8String = {
    val m = a.numElements()
    if (m == 0) return UTF8String.EMPTY_UTF8
    val parts = new Array[Array[Byte]](m)
    val d = delim.getBytes
    var outLen = (m - 1) * d.length
    var i = 0
    while (i < m) {
      val row = a.getStruct(i, numFields)
      parts(i) =
        if (row == null || row.isNullAt(ord)) Array.emptyByteArray
        else row.getUTF8String(ord).getBytes
      outLen += parts(i).length
      i += 1
    }
    val buf = new Array[Byte](outLen)
    var off = 0
    i = 0
    while (i < m) {
      if (i > 0) { System.arraycopy(d, 0, buf, off, d.length); off += d.length }
      System.arraycopy(parts(i), 0, buf, off, parts(i).length)
      off += parts(i).length
      i += 1
    }
    UTF8String.fromBytes(buf)
  }
}
