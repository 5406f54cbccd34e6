package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hashing kernels for the dedup/fingerprint family.
  *
  * Each expression here replaces a declarative formulation whose hot loop
  * ran as *interpreted* higher-order functions (`filter`/`zip_with`/
  * `transform` bind lambda variables per element) or as a row-exploding
  * aggregation (SimHash's 60-bits-per-token explode, MinHash's
  * posting-level groupBy). The semantics are bit-identical to the
  * declarative forms — pinned by `TextHashSpec`, which evaluates both on
  * the real corpus — so the DuckDB oracle SQL is unchanged; only the
  * Spark-side plan gets cheaper (projection-local, whole-stage codegen,
  * no shuffle/explode for per-document values).
  *
  * Shared tokenizer contract (same as `TextOps.tokens`, the reference's
  * observable tokenization, `slave.cc:77-98`): a token is
  * a maximal run of [a-z] after ASCII lowercasing (A–Z → a–z); any other
  * byte delimits, including every byte ≥ 0x80 — so multi-byte UTF-8
  * sequences delimit and the kernels match
  * `split(asciiLower(text), "[^a-z]+")` on ALL inputs, not just ASCII
  * (UTF-8 continuation bytes never overlap [a-z]; pinned incl. unicode in
  * UnicodeTextSpec). Full-casing `lower()` must NOT re-enter this path:
  * its 'İ' → "i̇" expansion maps a non-ASCII char INTO [a-z]. All md5
  * primitives match the cross-engine recipe used everywhere else:
  * `int(hex(md5(x))[i, n])` is the same value in Spark, DuckDB, and here.
  *
  * Byte-buffer contract: `tokenize` reads the input string in place
  * (never copies or writes it) and writes the lowercased tokens into a
  * fresh per-call byte buffer, joined by exactly one space. A k-gram of
  * consecutive tokens — a term (k = 1), a bigram (2), a shingle (3) — is
  * therefore one contiguous slice of that buffer, equal byte for byte to
  * the space-joined gram the oracles spell: kernels hash, count and
  * compare slices, and build no per-token String. The string keys they
  * return are `UTF8String` views over the buffer; a buffer belongs to one
  * call and is never reused or written after the call returns, so a
  * returned value stays valid however many calls follow.
  */
object TextHashKernels {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of a digest = first 15 hex chars parsed base-16. */
  @inline private def top60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** md5 of `b[from, from + len)`. */
  private def md5Of(b: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val digest = md5.get()
    digest.reset()
    digest.update(b, from, len)
    digest.digest()
  }

  private val SimhashSalt = "99|".getBytes("US-ASCII")

  /** md5("99|" + token): the per-token SimHash bit source. */
  private def simhashDigest(b: Array[Byte], from: Int, len: Int)
      : Array[Byte] = {
    val digest = md5.get()
    digest.reset()
    digest.update(SimhashSalt)
    digest.update(b, from, len)
    digest.digest()
  }

  /** One document's tokens (see the object doc): token i starts at
    * `starts(i)` and ends one byte (the joining space) before
    * `starts(i + 1)`; `starts(n)` continues that pattern past the last
    * token, so the k-gram at i is the slice `buf[starts(i), starts(i + k)
    * - 1)`. `hashes(i)` is token i's polynomial hash (31·h + byte). */
  private final class Tokens(val buf: Array[Byte], starts: Array[Int],
                             val hashes: Array[Int], val n: Int) {
    def from(i: Int): Int = starts(i)
    def len(i: Int, k: Int): Int = starts(i + k) - 1 - starts(i)
  }

  /** The one tokenizer: maximal [a-z] runs after ASCII lowercasing (see
    * object doc), in one pass over the string's bytes in place. The buffer
    * cannot overflow — every separating space stands for at least one
    * delimiter byte of the input — and n tokens need at least 2n - 1
    * input bytes, so `starts` holds n + 1 entries. */
  private def tokenize(s: UTF8String): Tokens = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    val buf = new Array[Byte](nb)
    val starts = new Array[Int](nb / 2 + 2)
    val hashes = new Array[Int](nb / 2 + 1)
    @inline def lowered(i: Int): Byte = {
      val c = Platform.getByte(base, off + i)
      if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
    }
    var n = 0
    var w = 0
    var i = 0
    while (i < nb) {
      var c = lowered(i)
      i += 1
      if (c >= 'a' && c <= 'z') {
        if (n > 0) { buf(w) = ' '; w += 1 }
        starts(n) = w
        var h = 0
        while (c >= 'a' && c <= 'z') {
          buf(w) = c
          w += 1
          h = 31 * h + c
          c = if (i < nb) lowered(i) else 0
          i += 1
        }
        hashes(n) = h
        n += 1
      }
    }
    starts(n) = w + 1
    new Tokens(buf, starts, hashes, n)
  }

  /** Byte-slice keys with their counts, in first-occurrence order: an
    * open-addressing table (linear probing, load ≤ 1/2, doubled as it fills
    * up to `maxSize` entries) over entries keyed by (hash, offset, length)
    * into the byte array `keyBuf` — no String, no boxing. A subclass says
    * where a new key's bytes live ([[store]]). */
  private[graft] abstract class SliceCounts(initialSlots: Int, maxSize: Int) {
    protected var keyBuf: Array[Byte] = _
    // entry index + 1, 0 = free
    private var slots = new Array[Int](initialSlots)
    private var hashes = new Array[Int](slots.length / 2)
    var from = new Array[Int](slots.length / 2)
    var len = new Array[Int](slots.length / 2)
    var count = new Array[Long](slots.length / 2)
    var size = 0

    /** The offset in `keyBuf` of a new key equal to `src[f, f + l)`. */
    protected def store(src: Array[Byte], f: Int, l: Int): Int

    /** Counts one occurrence of the key `src[f, f + l)` with hash `h`. */
    protected final def add(h: Int, src: Array[Byte], f: Int, l: Int): Unit = {
      val mask = slots.length - 1
      var p = h & mask
      var e = slots(p) - 1
      while (e >= 0) {
        if (hashes(e) == h && len(e) == l && sameBytes(from(e), src, f, l)) {
          count(e) = Math.addExact(count(e), 1L)
          return
        }
        p = (p + 1) & mask
        e = slots(p) - 1
      }
      hashes(size) = h
      from(size) = store(src, f, l)
      len(size) = l
      count(size) = 1
      size += 1
      slots(p) = size
      if (2 * size == slots.length && size < maxSize) grow()
    }

    /** A plain loop: on grams of a few bytes it measured faster than
      * `Arrays.equals`' vectorized compare. */
    private def sameBytes(a: Int, src: Array[Byte], b: Int, l: Int): Boolean = {
      var i = 0
      while (i < l) { if (keyBuf(a + i) != src(b + i)) return false; i += 1 }
      true
    }

    private def grow(): Unit = {
      val cap = slots.length
      slots = new Array[Int](2 * cap)
      hashes = java.util.Arrays.copyOf(hashes, cap)
      from = java.util.Arrays.copyOf(from, cap)
      len = java.util.Arrays.copyOf(len, cap)
      count = java.util.Arrays.copyOf(count, cap)
      val mask = 2 * cap - 1
      var e = 0
      while (e < size) {
        var p = hashes(e) & mask
        while (slots(p) != 0) p = (p + 1) & mask
        slots(p) = e + 1
        e += 1
      }
    }

    /** Empties the table, keeping its arrays. */
    protected def clear(): Unit = {
      java.util.Arrays.fill(slots, 0)
      size = 0
    }

    def key(e: Int): UTF8String =
      UTF8String.fromAddress(keyBuf, Platform.BYTE_ARRAY_OFFSET + from(e), len(e))
  }

  /** Token hash → table hash (a Fibonacci multiply, then the high half
    * folded down). */
  @inline private def spread(h: Int): Int = {
    val m = h * 0x9e3779b1
    m ^ (m >>> 16)
  }

  /** The distinct k-grams of `t` with their counts, in first-occurrence
    * order, keyed in place into the token buffer. A gram's hash folds its
    * tokens' hashes, so no byte is hashed twice. More than 2 slots per gram
    * up to 4096 grams, so a document of that size never grows the table. */
  private final class GramCounts(t: Tokens, k: Int) extends SliceCounts(
      Integer.highestOneBit(math.min(math.max(t.n - k + 1, 0), 4096) * 4 | 8),
      Int.MaxValue) {
    keyBuf = t.buf
    def buf: Array[Byte] = t.buf

    protected def store(src: Array[Byte], f: Int, l: Int): Int = f

    locally {
      var i = 0
      while (i <= t.n - k) {
        var h = t.hashes(i)
        var j = 1
        while (j < k) { h = 31 * h + t.hashes(i + j); j += 1 }
        add(spread(h), t.buf, t.from(i), t.len(i, k))
        i += 1
      }
    }

    def keys: ArrayData = {
      val out = new Array[AnyRef](size)
      var e = 0
      while (e < size) { out(e) = key(e); e += 1 }
      new GenericArrayData(out)
    }

    def toMap: MapData = new ArrayBasedMapData(keys,
      UnsafeArrayData.fromPrimitiveArray(count, Platform.LONG_ARRAY_OFFSET,
        size, 8))

    /** Unsigned byte order of two entries' grams — lexicographic order on
      * the [a-z ] gram alphabet. */
    def compare(a: Int, b: Int): Int = java.util.Arrays.compareUnsigned(
      buf, from(a), from(a) + len(a), buf, from(b), from(b) + len(b))
  }

  /** In-mapper combining: the term counts of many documents in one table —
    * the reference's map side, which counts a whole chunk before it emits
    * anything (`slave.cc:101-152`). Each document runs through the one
    * tokenizer; a new term's bytes are copied into the table's own arena,
    * so the table outlives the documents that filled it.
    *
    * Memory bound: at most [[TermTable.MaxEntries]] terms and, past
    * [[TermTable.MaxArenaBytes]] of key bytes, no new term. [[add]] stops
    * counting when the table is [[full]] and leaves the rest of the
    * document [[pending]]; the caller emits the entries, calls [[reset]]
    * and then [[resume]], the way a partial aggregate falls back when its
    * hash map fills. Counts add with `Math.addExact`. */
  private[graft] final class TermTable
      extends SliceCounts(1024, TermTable.MaxEntries) {
    keyBuf = new Array[Byte](8192)
    private var used = 0
    private var doc: Tokens = _
    private var next = 0

    protected def store(src: Array[Byte], f: Int, l: Int): Int = {
      if (used + l > keyBuf.length) keyBuf =
        java.util.Arrays.copyOf(keyBuf, math.max(2 * keyBuf.length, used + l))
      System.arraycopy(src, f, keyBuf, used, l)
      used += l
      used - l
    }

    def full: Boolean =
      size == TermTable.MaxEntries || used >= TermTable.MaxArenaBytes

    /** Whether the last document still has uncounted tokens. */
    def pending: Boolean = doc != null

    /** Counts the tokens of `s` until the table is full. */
    def add(s: UTF8String): Unit = {
      doc = tokenize(s)
      next = 0
      resume()
    }

    /** Counts the pending document's remaining tokens until the table is
      * full. */
    def resume(): Unit = {
      val t = doc
      while (next < t.n && !full) {
        add(spread(t.hashes(next)), t.buf, t.from(next), t.len(next, 1))
        next += 1
      }
      if (next == t.n) doc = null
    }

    /** Empties the table; keys returned by [[key]] before this call must
      * have been copied. A pending document stays pending. */
    def reset(): Unit = {
      clear()
      used = 0
    }
  }

  private[graft] object TermTable {
    val MaxEntries: Int = 1 << 16
    val MaxArenaBytes: Int = 1 << 20
  }

  /** Distinct space-joined 3-word shingles, first-occurrence order —
    * `array_distinct(zip_with(zip_with(slice...)))` over the shared
    * tokenizer, in one compiled pass. */
  def shingles(s: UTF8String): ArrayData =
    new GramCounts(tokenize(s), 3).keys

  /** Distinct 60-bit shingle hashes (first 15 hex chars of md5(shingle)),
    * first-occurrence order — the posting keys for the inverted-index
    * near-dup join: an 8-byte join/shuffle key instead of a ~20-byte
    * shingle string. Deduped AFTER hashing, so a (astronomically rare)
    * in-document hash collision shrinks the set exactly as the oracle's
    * count-distinct-over-hashes does. Hashing the distinct shingles in
    * first-occurrence order gives each hash's first occurrence at the
    * same place as hashing every position would. */
  def shingleHashes(s: UTF8String): ArrayData = {
    val sh = new GramCounts(tokenize(s), 3)
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    var e = 0
    while (e < sh.size) {
      seen.add(top60(md5Of(sh.buf, sh.from(e), sh.len(e))))
      e += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }

  /** POSITIONAL k-gram 60-bit hashes — one entry per gram position, NOT
    * deduped (multiplicity is the exact-substring metric's unit, unlike
    * [[shingleHashes]]' set semantics). Hash = first 15 hex chars of
    * md5(space-joined gram) — the shared cross-engine convention. Empty
    * array when the document has fewer than k tokens. */
  def gramHashes(s: UTF8String, k: Int): ArrayData = {
    val t = tokenize(s)
    if (t.n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](t.n - k + 1)
    var i = 0
    while (i < out.length) {
      out(i) = top60(md5Of(t.buf, t.from(i), t.len(i, k)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 60-bit SimHash: per token h = first 60 bits of md5("99|" + token),
    * output bit j set iff strictly more tokens have bit j set than clear
    * (multiplicity counts: each distinct token votes with its count).
    * NULL when the document has no tokens — the aggregation form simply
    * had no row for such documents. */
  def simhash(s: UTF8String): java.lang.Long = {
    val terms = new GramCounts(tokenize(s), 1)
    if (terms.size == 0) return null
    val votes = new Array[Int](60)
    var e = 0
    while (e < terms.size) {
      val h = top60(simhashDigest(terms.buf, terms.from(e), terms.len(e)))
      val c = terms.count(e).toInt
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) votes(j) += c else votes(j) -= c
        j += 1
      }
      e += 1
    }
    var r = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) r |= 1L << j; j += 1 }
    java.lang.Long.valueOf(r)
  }

  /** Wide SimHash for scale-tuned banding: per token the FULL
    * md5("99|" + token) digest supplies up to 128 hash bits — word w of
    * the signature draws from digest bytes [8w, 8w+8) big-endian, so word
    * 0's bit source is the same digest prefix the 60-bit [[simhash]] uses
    * (alignment differs: this keeps all 64 bits, top60 drops the low
    * nibble — the two signatures are deliberately distinct families).
    * Output word w bit j is set iff strictly more tokens have source bit
    * (w,j) set than clear, multiplicity counted — the same majority vote
    * as [[simhash]] per bit. Returns `words` longs (1 or 2; md5 has only
    * 128 bits); NULL when the document has no tokens. */
  def simhashWide(s: UTF8String, words: Int): ArrayData = {
    val terms = new GramCounts(tokenize(s), 1)
    if (terms.size == 0) return null
    val votes = new Array[Int](words * 64)
    var e = 0
    while (e < terms.size) {
      val d = simhashDigest(terms.buf, terms.from(e), terms.len(e))
      val c = terms.count(e).toInt
      var w = 0
      while (w < words) {
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(8 * w + b) & 0xffL); b += 1 }
        var j = 0
        while (j < 64) {
          if (((v >>> j) & 1L) == 1L) votes(64 * w + j) += c
          else votes(64 * w + j) -= c
          j += 1
        }
        w += 1
      }
      e += 1
    }
    val out = new Array[Long](words)
    var w = 0
    while (w < words) {
      var r = 0L
      var j = 0
      while (j < 64) { if (votes(64 * w + j) > 0) r |= 1L << j; j += 1 }
      out(w) = r
      w += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature of a shingle array: the classic linear family
    * h_i = h1 + i*h2 with h1 = hex[1..15] and h2 = hex[16..23] of
    * md5(shingle), minimized per permutation. NULL for an empty array —
    * such documents had no postings and therefore no signature row. */
  def minhashSig(a: ArrayData, numPerm: Int): ArrayData = {
    val n = a.numElements()
    if (n == 0) return null
    val mins = Array.fill(numPerm)(Long.MaxValue)
    val digest = md5.get()
    var i = 0
    while (i < n) {
      digest.reset()
      val d = digest.digest(a.getUTF8String(i).getBytes)
      val h1 = top60(d)
      // hex chars 16..23 (1-based): low nibble of byte 7 through high
      // nibble of byte 11 — a 32-bit value, so i*h2 never overflows
      val h2 = ((d(7) & 0x0fL) << 28) | ((d(8) & 0xffL) << 20) |
        ((d(9) & 0xffL) << 12) | ((d(10) & 0xffL) << 4) |
        ((d(11) & 0xf0L) >>> 4)
      var p = 0
      while (p < numPerm) {
        val h = h1 + p * h2
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Per-document term frequencies over the shared tokenizer, as a map in
    * first-occurrence order — `explode` + `groupBy(doc, term)` computed
    * locally per row, removing that aggregation's shuffle entirely (term
    * counting is per-document; only corpus-level statistics need the
    * exchange). */
  def termCounts(s: UTF8String): MapData =
    new GramCounts(tokenize(s), 1).toMap

  /** Per-document bigram frequencies ("w1 w2" → count) over the shared
    * tokenizer, first-occurrence order — the bigram-instance `explode` +
    * `groupBy(doc, w1, w2)` computed locally per row, removing that
    * aggregation's shuffle (bigram counting is per-document; only
    * corpus-level LM statistics need the exchange). */
  def bigramCounts(s: UTF8String): MapData =
    new GramCounts(tokenize(s), 2).toMap

  /** Per-document top bigram — the (bigram, cnt) pair with the largest
    * count, ties to the byte-wise LARGEST bigram (the repetition scorer's
    * `max(struct(cnt, bigram))` / the oracle's `ORDER BY cnt DESC, bigram
    * DESC` convention; byte order == lexicographic on the [a-z ] bigram
    * alphabet) — counted and arg-maxed in one pass, so the repetition
    * query needs no explode, no aggregation, and no second kernel
    * evaluation. NULL when the document has fewer than two tokens (such
    * documents had no exploded rows in the aggregation form). */
  def topBigram(s: UTF8String): InternalRow = {
    val bigrams = new GramCounts(tokenize(s), 2)
    if (bigrams.size == 0) return null
    var best = 0
    var e = 1
    while (e < bigrams.size) {
      val c = bigrams.count(e)
      val bestC = bigrams.count(best)
      if (c > bestC || (c == bestC && bigrams.compare(e, best) > 0)) best = e
      e += 1
    }
    new GenericInternalRow(Array[Any](bigrams.key(best), bigrams.count(best)))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD 2003): ASCII-lower
    * the text, hash every 8-byte gram (first 8 hex chars of md5 → long),
    * take each 4-gram window's minimum, return the distinct minima in
    * first-occurrence order. Empty array when the text is shorter than 11
    * bytes (no complete window). */
  def winnow(s: UTF8String): ArrayData = {
    // getBytes may return the row's backing array — clone before the
    // in-place lowercase below or the mutation corrupts the source column
    val b = s.getBytes.clone()
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c >= 'A' && c <= 'Z') b(i) = (c + 32).toByte
      i += 1
    }
    // Grams are 8 consecutive CODEPOINTS (the Schleimer character k-gram;
    // on ASCII codepoints == bytes, so this is bit-compatible with the old
    // byte-window form there). md5 input is the UTF-8 byte span of the
    // gram — exactly `md5(substring(t, i, 8))` in Spark and DuckDB, so
    // the oracle replays it with plain codepoint substring. A byte window
    // would split multi-byte sequences into grams no VARCHAR md5 can
    // express (DuckDB has no md5(BLOB)). Codepoint starts stream through
    // a 9-slot ring — one pass, no offsets array even on huge docs.
    val starts = new Array[Int](9) // ring: last ≤9 codepoint start offsets
    var nCp = 0 // codepoints seen so far
    val digest = md5.get()
    val hring = new Array[Long](4) // ring: last ≤4 gram hashes
    var nGram = 0
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    var o = 0
    while (o <= b.length) {
      val isStart = o == b.length || (b(o) & 0xc0) != 0x80
      if (isStart) {
        // codepoint span [starts[(nCp-8) mod 9], o) = gram #(nCp-8)
        if (nCp >= 8) {
          val from = starts((nCp - 8) % 9)
          digest.reset()
          digest.update(b, from, o - from)
          val d = digest.digest()
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          hring(nGram % 4) = h
          nGram += 1
          if (nGram >= 4) {
            var m = hring(0)
            if (hring(1) < m) m = hring(1)
            if (hring(2) < m) m = hring(2)
            if (hring(3) < m) m = hring(3)
            seen.add(m)
          }
        }
        if (o < b.length) { starts(nCp % 9) = o; nCp += 1 }
      }
      o += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }
}

/** `graft_shingles(text)` → array<string>: distinct 3-word shingles. */
case class GraftShingles(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.shingles(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextHashKernels.shingles($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_shingle_hashes(text)` → array<long>: distinct 60-bit hashed
  * 3-word shingles — the compact posting keys. */
case class GraftShingleHashes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.shingleHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextHashKernels.shingleHashes($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_gram_hashes(text, k)` → array<long>: positional (non-distinct)
  * k-gram 60-bit hashes — the exact-substring dedup unit. */
case class GraftGramHashes(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: org.apache.spark.sql.types.IntegerType)
          if right.foldable =>
        // eval() before the cast: a foldable NULL literal would unbox to
        // 0 and produce the misleading "got 0" message instead of naming
        // the null
        right.eval() match {
          case null => TypeCheckResult.TypeCheckFailure(
            "graft_gram_hashes k must not be NULL")
          case k: Int if k >= 1 && k <= 256 =>
            TypeCheckResult.TypeCheckSuccess
          case k => TypeCheckResult.TypeCheckFailure(
            s"graft_gram_hashes k must be in [1, 256], got $k")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_gram_hashes expects (string, foldable int), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"

  override protected def nullSafeEval(input1: Any, input2: Any): Any =
    TextHashKernels.gramHashes(input1.asInstanceOf[UTF8String],
      input2.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, k) =>
      s"${ev.value} = graft.functions.TextHashKernels.gramHashes($x, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_simhash(text)` → long: 60-bit SimHash; NULL when no tokens. */
case class GraftSimhash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Long $r = graft.functions.TextHashKernels.simhash($x);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_simhash_wide(text, words)` → array<long>: `words`×64-bit SimHash
  * (words must be a foldable literal 1 or 2 — md5 supplies 128 bits);
  * NULL when the document has no tokens. The scale-tuned signature behind
  * [[graft.queries.Dedup.simhashPairsWide]]. */
case class GraftSimhashWide(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: org.apache.spark.sql.types.IntegerType)
          if right.foldable =>
        val w = right.eval().asInstanceOf[Int]
        if (w >= 1 && w <= 2) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"graft_simhash_wide words must be 1 or 2, got $w")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_simhash_wide expects (string, foldable int), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash_wide"

  override protected def nullSafeEval(input1: Any, input2: Any): Any =
    TextHashKernels.simhashWide(input1.asInstanceOf[UTF8String],
      input2.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, w) => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.TextHashKernels.simhashWide($x, $w);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_minhash_sig(shingles)` → array<long> of 16 permutation minima;
  * NULL for an empty shingle array. */
case class GraftMinhashSig(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.minhashSig(input.asInstanceOf[ArrayData],
      GraftMinhashSig.NumPerm)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.TextHashKernels.minhashSig(
         |    $x, ${GraftMinhashSig.NumPerm});
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftMinhashSig {
  /** 16 permutations, banded 4×4 by the LSH layer. */
  val NumPerm = 16
}

/** `graft_term_counts(text)` → map<string,long>: per-document term
  * frequencies over the shared tokenizer. */
case class GraftTermCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_term_counts expects string, got ${t.simpleString}")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.MapType(StringType, LongType,
      valueContainsNull = false)
  override def prettyName: String = "graft_term_counts"

  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.termCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextHashKernels.termCounts($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_bigram_counts(text)` → map<string,long>: per-document bigram
  * ("w1 w2") frequencies over the shared tokenizer. */
case class GraftBigramCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bigram_counts expects string, got ${t.simpleString}")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.MapType(StringType, LongType,
      valueContainsNull = false)
  override def prettyName: String = "graft_bigram_counts"

  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.bigramCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextHashKernels.bigramCounts($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_top_bigram(text)` → struct<bigram:string,cnt:long>: the
  * most-frequent bigram (ties → byte-wise largest) with its count; NULL
  * for documents with fewer than two tokens. */
case class GraftTopBigram(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_top_bigram expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bigram", StringType,
      nullable = false),
    org.apache.spark.sql.types.StructField("cnt", LongType,
      nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_top_bigram"

  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.topBigram(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"""
      ${ev.value} = graft.functions.TextHashKernels.topBigram($x);
      ${ev.isNull} = (${ev.value} == null);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_winnow(text)` → array<long>: distinct winnowing fingerprints. */
case class GraftWinnow(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_winnow expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any =
    TextHashKernels.winnow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextHashKernels.winnow($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
