// Hosted under org.apache.spark.sql.* for the same reason as
// VectorExpressions.scala: ExpectsInputTypes/ExpressionUtils are
// private[sql]. No Spark internals are modified.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** |A ∩ B| for two SORTED string arrays, as a single merge walk.
  *
  * `size(array_intersect(a, b))` builds a hash set per row and allocates the
  * intersection array just to take its length; inside a near-dup verify join
  * that runs once per candidate pair (millions of rows), those per-row
  * allocations dominated the bench. Sorted inputs (we always produce token
  * sets with `array_sort(array_distinct(...))`) admit an allocation-free
  * two-pointer walk: [[SortedIntersectSizeBounded]]'s with a bound of 0,
  * which never exits early.
  *
  * Contract: BOTH inputs must be sorted ascending and duplicate-free —
  * callers own this (Dedup.tokenSet guarantees it). Null elements are not
  * expected (regexp_extract_all never yields them) and are skipped.
  * Combined with |A ∪ B| = |A| + |B| − |A ∩ B| this makes exact Jaccard one
  * walk per pair instead of two hash-set builds.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSizeBounded.size(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], 0L)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.SortedIntersectSizeBounded.size($a, $b, 0L)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash from an `array<long>` of token hashes, in one pass.
  *
  * The declarative form (nested `aggregate` holding a 64-wide ±1 counter
  * array updated via `zip_with` per token) allocates two arrays per token
  * per row and runs interpreted — it was a bench hotspot. This expression
  * keeps the 64 counters in a primitive local array.
  *
  * Bit packing matches the declarative fold exactly (counter for hash bit
  * i lands at position 63−i): same long values, so signatures are stable
  * across the implementations.
  *
  * Null elements are skipped (token hash arrays never contain them).
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(v: Any): Any = SimHash64.hash(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"org.apache.spark.sql.graft.SimHash64.hash($v)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  def hash(hs: ArrayData): Long = {
    val counters = new Array[Int](64)
    var i = 0
    while (i < hs.numElements()) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var b = 0
        while (b < 64) {
          counters(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { out = (out << 1) | (if (counters(b) > 0) 1L else 0L); b += 1 }
    out
  }
}

/** [[SortedIntersectSize]] with an early-exit lower bound: the walk stops
  * as soon as the intersection can no longer reach `minInter`
  * (current count + min(remaining) < minInter).
  *
  * Near-dup verify joins reject ~98% of LSH candidates, and a rejected
  * pair's Jaccard value never surfaces (the ≥-threshold filter drops the
  * row) — so an UNDERESTIMATE on pairs that provably can't reach the
  * bound is value-preserving: returned count ≤ true count < minInter
  * keeps jac(I) = I/(S−I) monotonic-below-threshold, while pairs that can
  * reach it walk to completion and return the exact size. Callers derive
  * minInter from the same threshold the filter uses (minus the rounding
  * half-step), so no boundary pair is ever mis-dropped.
  *
  * Same sorted/distinct input contract as [[SortedIntersectSize]].
  */
case class SortedIntersectSizeBounded(
    first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType), LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_size_bounded"

  override def nullSafeEval(a: Any, b: Any, m: Any): Any =
    SortedIntersectSizeBounded.size(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, m) =>
      s"org.apache.spark.sql.graft.SortedIntersectSizeBounded.size($a, $b, $m)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SortedIntersectSizeBounded {
  def size(x: ArrayData, y: ArrayData, minInter: Long): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < nx && j < ny) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { n += 1; i += 1; j += 1 }
        else {
          if (c < 0) i += 1 else j += 1
          if (n + math.min(nx - i, ny - j) < minInter) return n
        }
      }
    }
    n
  }
}

/** Index of the first position where two `array<long>` columns hold equal
  * values, or -1 if none.
  *
  * The LSH pair-dedup primitive: banded rows carry the doc's FULL per-band
  * bucket array, and the band self-join keeps a candidate pair only where
  * `firstEqualIndex(buckets_a, buckets_b) = band` — each pair then survives
  * in exactly ONE band, so the join output is globally duplicate-free and
  * the former 10⁷-row `dropDuplicates` exchange disappears. Cost: a ≤bands
  * long-compare loop per raw bucket collision, evaluated inside the join's
  * whole-stage codegen.
  *
  * Positions where either side is null never match (null buckets don't
  * occur in practice; xxhash64 output is non-null).
  */
case class FirstEqualIndex(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_first_equal_index"

  override def nullSafeEval(a: Any, b: Any): Any =
    FirstEqualIndex.index(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graft.FirstEqualIndex.index($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FirstEqualIndex {
  def index(x: ArrayData, y: ArrayData): Int = {
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) return i
      i += 1
    }
    -1
  }
}

/** `\S+` tokenization as a byte-level scan — value-identical to
  * `regexp_extract_all(text, '\\S+', 0)`:
  *
  * Java's default `\s` is exactly the five ASCII bytes
  * { space, \t, \n, \x0B, \f, \r } (no UNICODE_CHARACTER_CLASS), and in
  * UTF-8 every byte of a multi-byte code point is ≥ 0x80, so splitting on
  * those byte values reproduces the regex for EVERY input — pinned
  * against the regexp form by TokenizeParitySpec and by every
  * token-based oracle query. The regex engine cost (NFA state machine +
  * per-token Matcher allocations) was a measurable slice of the dedup
  * tokenize stages; this is one linear pass sharing the string's byte
  * array. Generated code calls the static helper, so the surrounding
  * stage keeps whole-stage codegen.
  */
case class SplitWhitespace(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_split_ws"

  override def nullSafeEval(v: Any): Any =
    SplitWhitespace.split(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.SplitWhitespace.split($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SplitWhitespace {
  private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  /** One pass over the UTF-8 bytes; tokens share the backing array. */
  def split(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](8)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) out += UTF8String.fromBytes(bytes, start, i - start)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** MinHash signature + LSH band buckets for an `array<string>` token SET,
  * in one pass, on the md5 ENGINE-REPRODUCIBLE hash family: one digest
  * `md5(t ++ ":" ++ j)` per (token, component QUAD) yields
  * `sig[4j+q] = min over t of u32(digest bytes 4q..4q+3)` (hex chars
  * 8q+1..8q+8) — four disjoint 32-bit ranges of a cryptographic digest
  * are independent hash functions, at a QUARTER of the digest count of
  * one-md5-per-component (md5 is the dominant CPU of every MinHash
  * dedup query; 32-bit minima are ample — an argmin tie needs a 2⁻³²
  * collision and a band key is r=4 components = 128 bits). Then
  * `bucket[bd] = low60(md5(bd ++ ":" ++ sig[bd·r],…,sig[bd·r+r−1]))`
  * (decimal renderings, comma-separated) — exactly the component family
  * of [[graft.dedup.Dedup.minHashSignature]]. DuckDB replays components
  * as `('0x' || substring(md5(x), 1 + 8·(k % 4), 8))::UBIGINT`, which
  * is what upgrades `dedup_near_minhash` from rows-only to a FULL
  * band-bucket oracle. Parity with the declarative md5 column chain is
  * pinned by ExpressionsSpec. The r6 lesson stands: the family must be
  * non-monotone in the token hash (an affine family degenerated every
  * component to argmin(x)); fresh cryptographic digest bits per
  * component have no such structure.
  *
  * Why native: the declarative form is an `aggregate` fold carrying a
  * numHashes-wide accumulator updated via `zip_with` per token — Catalyst
  * HOFs run interpreted, so that is numHashes interpreted `least`/`xxhash64`
  * evals AND two boxed array allocations per token per row; it was the
  * dominant CPU of the MinHash dedup queries. Here the accumulator is a
  * primitive long[], the inner token hash is computed once per token, and
  * the generated code is one static call, keeping the surrounding
  * projection in whole-stage codegen.
  *
  * The r signature components of a band are folded straight into the
  * band's bucket (one long per band leaves the expression), so callers
  * never materialize the signature and nothing here needs a checkpoint to
  * dodge CollapseProject re-inlining — it's a single expression node.
  *
  * Null elements are skipped (token sets never contain them).
  */
case class MinHashBandBuckets(child: Expression, numHashes: Int, bands: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  require(numHashes % bands == 0, "bands must divide numHashes")
  require(numHashes % 4 == 0, "components come in digest quads")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_band_buckets"

  override def nullSafeEval(v: Any): Any =
    MinHashBandBuckets.compute(v.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.MinHashBandBuckets.compute(" +
        s"$v, $numHashes, $bands);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBandBuckets {

  // Per-token md5-component memo (r9): token text follows a Zipf law, so
  // across a partition the SAME head tokens pay the numHashes/4 digests
  // over and over — the md5 family's dominant CPU (the r8 verdict's
  // ~1.3-1.8× dedup-query cost vs the old xxhash64 family). The
  // components are a pure function of the token, so an LRU memo is
  // output-invariant (ExpressionsSpec's native==declarative pin still
  // holds) and turns the head of the distribution into array copies.
  // Sizing: 8192 entries × (key + numHashes ints + map overhead) ≈ 3 MB
  // per executor thread — bounded, independent of corpus size.
  //
  // r10: the key is the token's UTF8String itself (bytes-equality hash),
  // so a cache HIT costs zero allocation — the r9 form paid a byte-array
  // copy plus an ISO-8859-1 String decode per LOOKUP; keys are cloned
  // only on insert (the probe object may point into a reused unsafe
  // buffer). Raw-byte identity is preserved trivially: the key IS the
  // raw bytes.
  private val CacheEntries = 8192
  private final class TokenCache(val numHashes: Int)
      extends java.util.LinkedHashMap[UTF8String, Array[Int]](1024, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[UTF8String, Array[Int]]): Boolean =
      size() > CacheEntries
  }

  // r10: all per-thread mutable state in one holder — the hand-rolled
  // allocation-free [[Md5]] (replacing MessageDigest: no provider
  // indirection, no internal buffering, no 16-byte array per digest; the
  // cache-MISS path and the per-row band digests were the remaining cost
  // after the r9 memo), a reusable input buffer, and the memo.
  private final class Scratch {
    val md5 = new Md5
    val out = new Array[Byte](16)
    var buf = new Array[Byte](512)
    var cache: TokenCache = null
    def ensure(n: Int): Array[Byte] = {
      if (buf.length < n) buf = new Array[Byte](Integer.highestOneBit(n) * 2)
      buf
    }
  }
  private val scratchLocal = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** ASCII decimal of `v >= 0` into `buf` at `off`; returns end offset. */
  private def writeDecimal(buf: Array[Byte], off: Int, v: Long): Int = {
    if (v == 0) { buf(off) = '0'; return off + 1 }
    var digits = 0
    var t = v
    while (t > 0) { digits += 1; t /= 10 }
    var end = off + digits
    t = v
    var i = end - 1
    while (t > 0) { buf(i) = ('0' + (t % 10).toInt).toByte; t /= 10; i -= 1 }
    end
  }

  /** The numHashes u32 components of one token: digest quad j =
    * md5(token ++ ":" ++ j), components 4j..4j+3 its four disjoint
    * big-endian u32 byte ranges, stored as Int bit patterns. The token
    * bytes are written into the scratch buffer ONCE; only the decimal
    * suffix is rewritten per quad. */
  private def tokenComponents(s: Scratch, tok: UTF8String,
                              numHashes: Int): Array[Int] = {
    val tlen = tok.numBytes()
    val buf = s.ensure(tlen + 12)
    tok.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
    buf(tlen) = ':'
    val comps = new Array[Int](numHashes)
    var j = 0
    while (j < numHashes / 4) {
      val len = writeDecimal(buf, tlen + 1, j.toLong)
      s.md5.digest(buf, len, s.out)
      var q = 0
      while (q < 4) {
        comps(4 * j + q) = u32At(s.out, 4 * q).toInt
        q += 1
      }
      j += 1
    }
    comps
  }

  /** First 15 hex digits of the digest as a base-16 value = the big-endian
    * u64 of bytes 0-7 with the low nibble dropped — always in [0, 2⁶⁰),
    * so the long is non-negative and `conv(substring(md5(x),1,15),16,10)`
    * / DuckDB `('0x' || substring(md5(x),1,15))::UBIGINT` agree exactly. */
  private def low60(d: Array[Byte]): Long =
    (((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) | ((d(2) & 0xFFL) << 40) |
      ((d(3) & 0xFFL) << 32) | ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) >>> 4

  /** Hex chars 8q+1..8q+8 as a base-16 value = the big-endian u32 of
    * digest bytes 4q..4q+3 — always in [0, 2³²), so
    * `conv(substring(md5(x), 1+8q, 8), 16, 10)` / DuckDB
    * `('0x' || substring(md5(x), 1+8q, 8))::UBIGINT` agree exactly. */
  private def u32At(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xFFL) << 24) | ((d(off + 1) & 0xFFL) << 16) |
      ((d(off + 2) & 0xFFL) << 8) | (d(off + 3) & 0xFFL)

  def compute(tokens: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val s = scratchLocal.get()
    if (s.cache == null || s.cache.numHashes != numHashes)
      s.cache = new TokenCache(numHashes)
    val cache = s.cache
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        // ONE digest per (token, component QUAD): md5(token ++ ":" ++ j)
        // yields components 4j..4j+3 from its four disjoint 8-hex-char
        // ranges (r8: four 32-bit components per digest — disjoint
        // cryptographic digest ranges are independent hash functions,
        // and a band key is r=4 components = 128 bits). Head tokens hit
        // the per-thread memo and skip the digests entirely (r9);
        // the probe allocates nothing (r10 — see TokenCache).
        val tok = tokens.getUTF8String(i)
        var comps = cache.get(tok)
        if (comps == null) {
          comps = tokenComponents(s, tok, numHashes)
          cache.put(tok.clone(), comps)
        }
        var k = 0
        while (k < numHashes) {
          val u32 = comps(k) & 0xFFFFFFFFL
          if (u32 < sig(k)) sig(k) = u32
          k += 1
        }
      }
      i += 1
    }
    val r = numHashes / bands
    val buckets = new Array[Long](bands)
    // low60(md5("bd:s0,s1,…,s(r−1)")) — decimal renderings written
    // straight into the scratch buffer, so the declarative chain
    // (concat + cast-to-string + md5) and DuckDB rebuild the identical
    // digest input without a String round-trip.
    val buf = s.ensure(r * 21 + 12)
    var bd = 0
    var k = 0
    while (bd < bands) {
      var off = writeDecimal(buf, 0, bd.toLong)
      buf(off) = ':'; off += 1
      var j = 0
      while (j < r) {
        if (j > 0) { buf(off) = ','; off += 1 }
        off = writeDecimal(buf, off, sig(k)); k += 1; j += 1
      }
      s.md5.digest(buf, off, s.out)
      buckets(bd) = low60(s.out)
      bd += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buckets)
  }
}

/** Winnowing fingerprint selection (Schleimer et al., "Winnowing: Local
  * Algorithms for Document Fingerprinting"): the DISTINCT minima of every
  * `w`-wide sliding window over a hash stream. Guarantees any shared
  * substring of ≥ w+n−1 tokens between two documents yields at least one
  * shared fingerprint — the partial-CONTAINMENT detector that whole-set
  * MinHash misses (a doc pasted inside a 100× larger doc barely moves
  * whole-set Jaccard but shares every windowed fingerprint).
  *
  * Native because the declarative form — `transform(sequence(...), i ->
  * array_min(slice(hs, i, w)))` — re-evaluates the hash-stream subtree per
  * window position inside the HOF lambda (no CSE), going O(len·w) with
  * interpreted eval per element. Here: one monotonic-deque pass, O(len).
  *
  * Output order is the first-occurrence order of each selected value;
  * callers treat it as a set. Null elements are skipped.
  */
case class WinnowMins(child: Expression, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  require(w >= 1, "window must be >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_mins"

  override def nullSafeEval(v: Any): Any =
    WinnowMins.compute(v.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.WinnowMins.compute($v, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowMins {
  def compute(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    val vals = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) { vals(m) = hs.getLong(i); m += 1 }
      i += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (m > 0) {
      val win = math.min(w, m)
      // monotonic deque of indices; head = argmin of the current window
      val deque = new Array[Int](m)
      var head = 0
      var tail = 0 // exclusive
      i = 0
      while (i < m) {
        while (tail > head && vals(deque(tail - 1)) >= vals(i)) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - win) head += 1
        if (i >= win - 1) out.add(vals(deque(head)))
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next().longValue(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Unicode NFC normalization of a string (`normalize_text` query, the
  * canonicalization stage AHEAD of dedup keys and tokenization): visually
  * identical NFC/NFD variants ("café" composed vs e+combining-acute) hash
  * differently and defeat exact AND near dedup; normalizing first makes
  * the dedup key canonical. DuckDB's `nfc_normalize` implements the same
  * Unicode normalization, so queries over normalized text carry full
  * oracles. Case-folding stays a separate composable step (`lower`), as
  * in the CCNet/C4 pipelines.
  *
  * Native expression (vs a UDF) to stay inside whole-stage codegen in
  * scan-stage projections; the implementation fast-paths the
  * already-normalized case (all-ASCII text, the overwhelming majority of
  * web corpora) with a zero-allocation check.
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(v: Any): Any =
    NfcNormalize.normalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.NfcNormalize.normalize($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Registered domain (eTLD+1) of a lowercased host under the full Public
  * Suffix List ([[graft.ingest.Psl]] — vendored public data, parsed once
  * per JVM from the application jar, so executors need no broadcast).
  * Native expression (vs a UDF) for the same reason as [[NfcNormalize]]:
  * the domain key is computed in scan-stage projections ahead of the
  * domain-caps exchange and must stay inside whole-stage codegen. The
  * DuckDB mirror is [[graft.ingest.Psl.sqlDomainCtes]]'s candidate-suffix
  * equi-join over the SAME printed rule table. */
case class RegisteredDomain(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_registered_domain"

  override def nullSafeEval(v: Any): Any =
    RegisteredDomain.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.RegisteredDomain.compute($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegisteredDomain {
  def compute(host: UTF8String): UTF8String = {
    val h = host.toString
    val d = graft.ingest.Psl.registeredDomainOf(h)
    if (d eq h) host else UTF8String.fromString(d)
  }
}

/** Luhn checksum validity of a card-number candidate (digit run with
  * optional space/dash separators) — the validator behind the PII
  * scrub's credit-card class ([[graft.pipeline.Pii.creditCards]]).
  *
  * True iff the candidate strips to 13-19 digits whose Luhn sum (double
  * every second digit from the right, fold >9 down by 9) is ≡ 0 mod 10.
  * Non-digit bytes are skipped in place — no intermediate stripped
  * string is allocated; the walk runs right-to-left directly over the
  * UTF8String bytes (multi-byte UTF-8 units can never read as ASCII
  * digits, so skipping is byte-safe).
  *
  * Native expression (vs a UDF) for the same reason as [[NfcNormalize]]:
  * candidate validation runs inside a scan-stage `filter` lambda over
  * every extracted run and must stay inside codegen. The DuckDB mirror
  * is [[graft.pipeline.Pii.sqlLuhnValid]] — the identical arithmetic as
  * list-lambda SQL over the stripped digit string.
  */
case class LuhnValid(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_luhn_valid"

  override def nullSafeEval(v: Any): Any =
    LuhnValid.check(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.LuhnValid.check($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LuhnValid {
  def check(s: UTF8String): Boolean = {
    val b = s.getBytes
    var i = b.length - 1
    var sum = 0
    var nDigits = 0
    var double2 = false
    while (i >= 0) {
      val c = b(i)
      if (c >= '0' && c <= '9') {
        var d = c - '0'
        if (double2) { d *= 2; if (d > 9) d -= 9 }
        sum += d
        nDigits += 1
        double2 = !double2
      }
      i -= 1
    }
    nDigits >= 13 && nDigits <= 19 && sum % 10 == 0
  }
}

/** Unigram character entropy of a document in integer MICRO-NATS —
  * the character-diversity quality signal (keyboard mashing, ASCII-art
  * and repeated-glyph spam score near 0; natural language sits in a
  * language-typical band), computed so the result is bit-identical
  * across engines despite the transcendental:
  *
  *   H_unats = (n·⌊ln n · 10⁶⌋ − Σ_c cnt_c·⌊ln cnt_c · 10⁶⌋) ∕ n
  *
  * — each ln is floored to micro-nat units BEFORE any multiplication or
  * summation (the [[graft.text.LmScore]] per-term discipline), so
  * everything after the floor is exact integer arithmetic: any
  * summation order, any engine. The numerator is provably non-negative
  * (⌊⌋ is monotone and cnt ≤ n), so Long division IS floor division,
  * matching DuckDB's `//`. Counts are per Unicode CODEPOINT (surrogate
  * pairs are one character — the DuckDB `string_split(text, '')`
  * domain), not UTF-16 units. Empty text → 0.
  *
  * Native expression (vs a UDF) for the usual reason: a quality tagger
  * runs in the same scan-stage projection as the other per-doc signals
  * and must stay inside whole-stage codegen. One pass, one open-address
  * count map per row.
  */
case class CharEntropy(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_char_entropy"

  override def nullSafeEval(v: Any): Any =
    CharEntropy.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.graft.CharEntropy.compute($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharEntropy {
  private val Unit = 1000000.0

  def compute(s: UTF8String): Long = {
    val str = s.toString
    if (str.isEmpty) return 0L
    // codepoint -> count; the alphabet of one document is small, a
    // boxed HashMap is fine (the digest-heavy natives above are the
    // ones that earn open addressing)
    val counts = new java.util.HashMap[Integer, Array[Int]]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1L
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1)) else slot(0) += 1
    }
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toLong
      sum += c * math.floor(math.log(c.toDouble) * Unit).toLong
    }
    (n * math.floor(math.log(n.toDouble) * Unit).toLong - sum) / n
  }
}

/** The integer statistics under ALL NINE Gopher repetition signals
  * ([[graft.text.GopherRepetition]]), in ONE compiled pass per document —
  * struct(n_line, d_line, c_line, cd_line, n_para, d_para, c_para,
  * cd_para, nch, top2, top3, top4, dup5, dup10), all longs.
  *
  * Why native: the declarative signal set ran FIVE interpreted
  * sort+fold HOF chains (one per n-gram size) plus four split/filter
  * unit passes per row, with no common-subexpression elimination across
  * the nine signal trees — measured at ~1.3 s per corpus pass at sf0.1,
  * the single most expensive per-row gate in the preset pipelines
  * (guide §4: prefer compiled expressions on the hot path). Here one
  * pass tokenizes, counts n-gram occurrences in hash maps (equal grams
  * need no sort — max/sum over counts are order-free), and walks
  * lines/paragraphs once.
  *
  * Division and round(…, 4) stay DECLARATIVE on top of these integers
  * ([[graft.text.GopherRepetition.signalCols]]), so the cross-engine
  * float discipline is untouched — the fused expression only replaces
  * exact integer arithmetic, and its parity with the former HOF
  * formulation is pinned by GopherRepetitionSpec.
  *
  * Children: (raw text, LOWERCASED text) — the caller passes
  * `lower(t)` so case folding stays Spark's own `Lower` (engine-exact);
  * lines/paragraphs read the raw child, tokens/n-grams the lowered one
  * (exactly the columns the declarative form derived them from).
  */
case class GopherRepetitionStats(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = GopherRepetitionStats.schema
  override def prettyName: String = "graft_gopher_repetition_stats"

  override def nullSafeEval(raw: Any, lowered: Any): Any =
    GopherRepetitionStats.compute(
      raw.asInstanceOf[UTF8String], lowered.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (r, l) =>
      s"${ev.value} = org.apache.spark.sql.graft.GopherRepetitionStats" +
        s".compute($r, $l);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GopherRepetitionStats {
  import org.apache.spark.sql.types.{StructField, StructType}

  val schema: StructType = StructType(Seq(
    "n_line", "d_line", "c_line", "cd_line",
    "n_para", "d_para", "c_para", "cd_para",
    "nch", "top2", "top3", "top4", "dup5", "dup10")
    .map(StructField(_, LongType, nullable = false)))

  private val ParaRe = java.util.regex.Pattern.compile("\n{2,}")

  /** Spark `trim` semantics: ASCII space (0x20) only — `\t` is content. */
  private def isSpaceOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) != ' ') return false; i += 1 }
    true
  }

  private def codePoints(s: String): Long =
    s.codePointCount(0, s.length).toLong

  /** (count, distinct count, char sum, distinct char sum) over the
    * non-space-only units — `length()` counts CODE POINTS, matching
    * Spark/DuckDB `length`. */
  private def unitStats(units: Array[String]): (Long, Long, Long, Long) = {
    var n = 0L; var c = 0L; var d = 0L; var cd = 0L
    val seen = new java.util.HashSet[String]()
    var i = 0
    while (i < units.length) {
      val u = units(i)
      if (!isSpaceOnly(u)) {
        val ch = codePoints(u)
        n += 1; c += ch
        if (seen.add(u)) { d += 1; cd += ch }
      }
      i += 1
    }
    (n, d, c, cd)
  }

  /** (top, dup) for word n-grams of the token array: top = max over
    * grams occurring ≥ 2× of count · non-space chars, dup = Σ over the
    * same grams — count-keyed hash map; equal grams need no sort, and
    * max/sum are order-independent, so this equals the former
    * sorted-run fold bit-for-bit. */
  private def gramStats(toks: Array[String], tokChars: Array[Long],
                        n: Int): (Long, Long) = {
    val m = toks.length
    if (m < n) return (0L, 0L)
    val counts = new java.util.HashMap[String, Array[Long]]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n <= m) {
      sb.setLength(0)
      var k = 0
      var ch = 0L
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        ch += tokChars(i + k)
        k += 1
      }
      val key = sb.toString
      val slot = counts.get(key)
      if (slot == null) counts.put(key, Array(1L, ch)) else slot(0) += 1L
      i += 1
    }
    var top = 0L; var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val slot = it.next()
      if (slot(0) >= 2L) {
        val mass = slot(0) * slot(1)
        if (mass > top) top = mass
        dup += mass
      }
    }
    (top, dup)
  }

  def compute(raw: UTF8String, lowered: UTF8String): InternalRow = {
    val rs = raw.toString
    val (nl, dl, cl, cdl) = unitStats(rs.split("\n", -1))
    val (np, dp, cp, cdp) = unitStats(ParaRe.split(rs, -1))
    val tokArr = SplitWhitespace.split(lowered).asInstanceOf[
      org.apache.spark.sql.catalyst.util.GenericArrayData]
    val m = tokArr.numElements()
    val toks = new Array[String](m)
    val tokChars = new Array[Long](m)
    var nch = 0L
    var i = 0
    while (i < m) {
      toks(i) = tokArr.getUTF8String(i).toString
      tokChars(i) = codePoints(toks(i))
      nch += tokChars(i)
      i += 1
    }
    val (t2, _) = gramStats(toks, tokChars, 2)
    val (t3, _) = gramStats(toks, tokChars, 3)
    val (t4, _) = gramStats(toks, tokChars, 4)
    val (_, d5) = gramStats(toks, tokChars, 5)
    val (_, d10) = gramStats(toks, tokChars, 10)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nl, dl, cl, cdl, np, dp, cp, cdp, nch, t2, t3, t4, d5, d10))
  }
}

/** The MinHash LSH candidate-pair generator as a Catalyst GENERATOR
  * (the `explode` family): one input row per (band, bucket) group —
  * (band, ms: array<struct<id, n, buckets>>) — streams out the group's
  * size-pruned, first-band-owned candidate pairs (id_a, id_b, n_a, n_b).
  *
  * Why a Generator (r16): the pair loop was a typed `Dataset.flatMap`,
  * which paid a full Catalyst deserializer per group (ArrayData → Scala
  * tuples of WrappedArrays) plus a serializer per emitted pair —
  * measured 1.45 s vs 0.15 s for the identical loop reading ArrayData
  * directly at sf0.1 (~10× on the stage, the dominant candidate cost;
  * guide §4). A Generator keeps the loop in plain JVM over InternalRows
  * AND keeps the plan transparent — `Generate graft_minhash_pairs`
  * appears where `SerializeFromObject/MapElements` used to, upstream
  * banding/grouping stay visible to the plan pins, and AQE still plans
  * the surrounding exchanges.
  *
  * Per-pair semantics are IDENTICAL to the flatMap form (PlanQualitySpec
  * pins the shape; the dedup oracles pin the outputs):
  *  - members sorted by set size (stable), two-pointer window applies
  *    the size prune (J ≥ t forces min(|A|,|B|) ≥ pruneT·max — same
  *    double arithmetic);
  *  - a pair is emitted only in its FIRST shared band (no global
  *    dropDuplicates), ids normalized to id_a < id_b;
  *  - STREAMED emission (the r12 discipline): O(m) member arrays per
  *    group regardless of how many pairs it emits — GenerateExec
  *    consumes the iterator lazily.
  */
case class MinHashCandidatePairs(left: Expression, right: Expression,
                                 pruneT: Double)
    extends BinaryExpression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.types.{StructField, StructType}

  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType,
    ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("n", IntegerType),
      StructField("buckets", ArrayType(LongType, containsNull = false))))))
  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("n_a", IntegerType, nullable = false),
    StructField("n_b", IntegerType, nullable = false)))
  override def prettyName: String = "graft_minhash_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    // Fail fast on null children (r17, advisor): the former typed decode
    // threw on a null band/group; Scala's asInstanceOf[Int] would instead
    // silently unbox null to 0 and emit pairs as if owned by band 0.
    val bandRef = left.eval(input)
    val msRef = right.eval(input)
    require(bandRef != null && msRef != null,
      "graft_minhash_pairs: null band or member group")
    val band = bandRef.asInstanceOf[Int]
    val ms = msRef.asInstanceOf[ArrayData]
    val m = ms.numElements()
    val rawIds = new Array[Long](m)
    val rawNs = new Array[Int](m)
    val rawBks = new Array[Array[Long]](m)
    var q = 0
    while (q < m) {
      val st = ms.getStruct(q, 3)
      rawIds(q) = st.getLong(0)
      rawNs(q) = st.getInt(1)
      rawBks(q) = st.getArray(2).toLongArray()
      q += 1
    }
    // sort by set size — stable, matching the former ms.toArray.sortBy(_._2)
    val order = Array.range(0, m).sortBy(rawNs)
    val ids = new Array[Long](m)
    val ns = new Array[Int](m)
    val bks = new Array[Array[Long]](m)
    var i = 0
    while (i < m) {
      val t = order(i)
      ids(i) = rawIds(t); ns(i) = rawNs(t); bks(i) = rawBks(t)
      i += 1
    }
    new scala.collection.AbstractIterator[InternalRow] {
      private var j = 1
      private var lo = 0
      private var i2 = -1 // -1 marks "entering row j": advance lo
      private var ready: InternalRow = _
      private def findNext(): Unit = {
        while (ready == null && j < m) {
          if (i2 < 0) {
            val nj = ns(j)
            while (lo < j && ns(lo).toDouble < nj.toDouble * pruneT) lo += 1
            i2 = lo
          }
          if (i2 < j) {
            // first equal bucket position decides the owning band
            val ba = bks(i2); val bb = bks(j)
            var k = 0
            var fe = -1
            val kn = math.min(ba.length, bb.length)
            while (fe < 0 && k < kn) { if (ba(k) == bb(k)) fe = k; k += 1 }
            if (fe == band && ids(i2) != ids(j)) {
              val (a, b) =
                if (ids(i2) < ids(j)) (ids(i2), ids(j)) else (ids(j), ids(i2))
              val (na, nb) =
                if (ids(i2) < ids(j)) (ns(i2), ns(j)) else (ns(j), ns(i2))
              ready = new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(Array[Any](a, b, na, nb))
            }
            i2 += 1
          } else { j += 1; i2 = -1 }
        }
      }
      override def hasNext: Boolean = { if (ready == null) findNext(); ready != null }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("empty pair iterator")
        val r = ready; ready = null; r
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The banded-Hamming candidate-pair generator — [[MinHashCandidatePairs]]'
  * discipline for the SimHash/ahash family (r17, guide §4): one input row
  * per (chunk, ck) signature bucket — (chunk, ms: array<struct<id, sh>>)
  * — streams out the bucket's verified pairs (id_a, id_b, hamming).
  *
  * The former shape was a typed `Dataset.flatMap` paying a Catalyst
  * deserializer per bucket (ArrayData → Scala tuples) plus a serializer
  * per emitted pair — the exact encoder tax the MinHash generator
  * measured at ~10× on its stage (r16). Per-pair semantics are IDENTICAL
  * to the flatMap form (the simhash/ahash oracles pin the outputs):
  *  - every unordered member pair is tested once (i < j over the
  *    collected bucket, order-insensitive: emission depends only on the
  *    two signatures);
  *  - the FIRST shared 16-bit chunk owns the pair (globally
  *    duplicate-free with no dropDuplicates exchange);
  *  - Hamming distance ≤ maxDist via `Long.bitCount(xor)`, ids
  *    normalized to id_a < id_b, STREAMED emission (O(m) memory per
  *    bucket regardless of pair count). */
case class HammingCandidatePairs(left: Expression, right: Expression,
                                 maxDist: Int)
    extends BinaryExpression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.types.{StructField, StructType}

  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType,
    ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("sh", LongType)))))
  override def elementSchema: StructType = StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("hamming", LongType, nullable = false)))
  override def prettyName: String = "graft_hamming_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    // Fail fast on null children — same contract as the MinHash
    // generator (a null chunk would otherwise unbox to 0 silently).
    val chunkRef = left.eval(input)
    val msRef = right.eval(input)
    require(chunkRef != null && msRef != null,
      "graft_hamming_pairs: null chunk or member group")
    val chunk = chunkRef.asInstanceOf[Int]
    val ms = msRef.asInstanceOf[ArrayData]
    val m = ms.numElements()
    val ids = new Array[Long](m)
    val shs = new Array[Long](m)
    var q = 0
    while (q < m) {
      val st = ms.getStruct(q, 2)
      ids(q) = st.getLong(0)
      shs(q) = st.getLong(1)
      q += 1
    }
    new scala.collection.AbstractIterator[InternalRow] {
      private var i = 0
      private var j = 1
      private var ready: InternalRow = _
      private def findNext(): Unit = {
        while (ready == null && i < m - 1) {
          if (j < m) {
            val ida = ids(i); val idb = ids(j)
            if (ida != idb) {
              val x = shs(i) ^ shs(j)
              // first shared 16-bit chunk owns the pair
              var fe = -1
              var k = 0
              while (fe < 0 && k < 4) {
                if (((x >>> (k * 16)) & 0xFFFFL) == 0L) fe = k
                k += 1
              }
              if (fe == chunk && java.lang.Long.bitCount(x) <= maxDist) {
                val hamming = java.lang.Long.bitCount(x).toLong
                ready = new org.apache.spark.sql.catalyst.expressions
                  .GenericInternalRow(
                    if (ida < idb) Array[Any](ida, idb, hamming)
                    else Array[Any](idb, ida, hamming))
              }
            }
            j += 1
          } else { i += 1; j = i + 1 }
        }
      }
      override def hasNext: Boolean = { if (ready == null) findNext(); ready != null }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("empty pair iterator")
        val r = ready; ready = null; r
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayFunctions {

  /** Codegen'd |A ∩ B| for sorted, distinct string arrays. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedIntersectSize(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd 64-bit SimHash over token hashes; see [[SimHash64]]. */
  def simHash64(tokenHashes: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokenHashes)))

  /** Codegen'd |A ∩ B| with early exit below minInter; see
    * [[SortedIntersectSizeBounded]]. */
  def sortedIntersectSizeBounded(a: Column, b: Column, minInter: Column): Column =
    ExpressionUtils.column(SortedIntersectSizeBounded(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b),
      ExpressionUtils.expression(minInter)))

  /** Codegen'd winnowing window-min fingerprints; see [[WinnowMins]]. */
  def winnowMins(hashes: Column, w: Int): Column =
    ExpressionUtils.column(WinnowMins(ExpressionUtils.expression(hashes), w))

  /** Codegen'd MinHash LSH band buckets; see [[MinHashBandBuckets]]. */
  def minHashBandBuckets(tokens: Column, numHashes: Int, bands: Int): Column =
    ExpressionUtils.column(
      MinHashBandBuckets(ExpressionUtils.expression(tokens), numHashes, bands))

  /** Byte-level `\S+` tokenizer, regex-equivalent; see [[SplitWhitespace]]. */
  def splitWhitespace(text: Column): Column =
    ExpressionUtils.column(SplitWhitespace(ExpressionUtils.expression(text)))

  /** Codegen'd Unicode NFC normalization; see [[NfcNormalize]]. */
  def nfcNormalize(text: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(text)))

  /** Codegen'd PSL eTLD+1 lookup; see [[RegisteredDomain]]. */
  def registeredDomain(host: Column): Column =
    ExpressionUtils.column(RegisteredDomain(ExpressionUtils.expression(host)))

  /** Codegen'd first-equal-position of two long arrays; see [[FirstEqualIndex]]. */
  def firstEqualIndex(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FirstEqualIndex(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd Luhn card-number validity; see [[LuhnValid]]. */
  def luhnValid(candidate: Column): Column =
    ExpressionUtils.column(LuhnValid(ExpressionUtils.expression(candidate)))

  /** Codegen'd integer micro-nat character entropy; see [[CharEntropy]]. */
  def charEntropy(text: Column): Column =
    ExpressionUtils.column(CharEntropy(ExpressionUtils.expression(text)))

  /** One-pass integer stats under the nine Gopher repetition signals;
    * see [[GopherRepetitionStats]]. Pass `lower(raw)` as `lowered`. */
  def gopherRepetitionStats(raw: Column, lowered: Column): Column =
    ExpressionUtils.column(GopherRepetitionStats(
      ExpressionUtils.expression(raw), ExpressionUtils.expression(lowered)))

  /** LSH candidate-pair generator over (band, bucket-member structs);
    * see [[MinHashCandidatePairs]]. */
  def minHashCandidatePairs(band: Column, ms: Column, pruneT: Double): Column =
    ExpressionUtils.column(MinHashCandidatePairs(
      ExpressionUtils.expression(band), ExpressionUtils.expression(ms), pruneT))

  /** Banded-Hamming candidate-pair generator over (chunk, bucket-member
    * structs); see [[HammingCandidatePairs]]. */
  def hammingCandidatePairs(chunk: Column, ms: Column, maxDist: Int): Column =
    ExpressionUtils.column(HammingCandidatePairs(
      ExpressionUtils.expression(chunk), ExpressionUtils.expression(ms), maxDist))
}
