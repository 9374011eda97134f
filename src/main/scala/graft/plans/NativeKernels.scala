package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernels shared by the interpreted (`nullSafeEval`) and generated
  * (`doGenCode`) paths of the native expressions — one implementation, two
  * call sites, so eval parity is by construction. Scala objects emit static
  * forwarders, so generated Java calls these directly
  * (`graft.plans.NativeKernels.vecDot(a, b)`), keeping the enclosing stage
  * inside whole-stage codegen with a single non-virtual call per row. */
object NativeKernels {

  private val Sep = UTF8String.fromString(" ")

  /** SplitMix64 finalizer — derives the i-th MinHash family member from one
    * base hash (standard universal-hashing construction). */
  @inline def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---- cross-engine MinHash (md5 base + universal hashing mod 2³¹−1) ----
  // The base fingerprint is the value of the first 15 hex chars of md5
  // (= the high 60 bits of the digest), because BOTH engines can compute
  // it: Spark `conv(substring(md5(s),1,15),16,10)`, DuckDB
  // `CAST('0x' || substring(md5(s),1,15) AS BIGINT)`. Components are the
  // classic affine family h_j = (a_j·base + b_j) mod p over the Mersenne
  // prime p = 2³¹−1 — a_j, b_j < p and base < p keep every product under
  // 2⁶², so the arithmetic is overflow-free identical integer math in
  // Spark, DuckDB, and this kernel. The family constants derive from
  // [[mix64]] HERE and are inlined as literals into the DuckDB oracle
  // (DedupQueries reads these methods), so there is exactly one source.

  /** MinHash modulus: the Mersenne prime 2³¹−1. */
  val MinHashP = 2147483647L

  /** Multiplier of the j-th (1-based) affine family member, in [1, p). */
  def minhashA(j: Int): Long = (mix64(2L * j + 1) & 0x7fffffffL) % (MinHashP - 1) + 1

  /** Offset of the j-th (1-based) affine family member, in [0, p). */
  def minhashB(j: Int): Long = (mix64(2L * j + 2) & 0x7fffffffL) % MinHashP

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** High 60 bits of md5(s) — the value of the digest's first 15 hex
    * chars, which both engines can recompute from their md5 functions. */
  def md5Hex60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val dig = md.digest(s.getBytes)
    var be = 0L
    var c = 0
    while (c < 8) { be = (be << 8) | (dig(c) & 0xffL); c += 1 }
    be >>> 4
  }

  /** The shared MinHash base fingerprint: [[md5Hex60]] mod p. */
  def minhashBase(s: UTF8String): Long = md5Hex60(s) % MinHashP

  // family constants depend only on k — computed once per k, not per row
  // (the kernel runs once per row inside whole-stage codegen)
  private val familyCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def minhashFamily(k: Int): (Array[Long], Array[Long]) =
    familyCache.computeIfAbsent(
      k, _ => (Array.tabulate(k)(j => minhashA(j + 1)), Array.tabulate(k)(j => minhashB(j + 1))))

  /** k-component MinHash signature in one pass over the shingle array. */
  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val (as, bs) = minhashFamily(k)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = minhashBase(arr.getUTF8String(i))
      var j = 0
      while (j < k) {
        val h = (as(j) * base + bs(j)) % MinHashP
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 60-bit SimHash in one pass: per-token [[md5Hex60]] (cross-engine — the
    * first 15 md5 hex chars), bit b set iff strictly more than half the
    * tokens have bit b set. 60 bits rather than 64 because 15 hex chars is
    * the widest md5 prefix whose value fits a signed BIGINT in both
    * engines, keeping the whole sketch oracle-recomputable. */
  def simhash60(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = md5Hex60(arr.getUTF8String(i))
      var b = 0
      while (b < 60) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) * 2 > n) out |= (1L << b)
      b += 1
    }
    out
  }

  /** graft.functions.detlog's square-and-halve log2 as one kernel call —
    * the IDENTICAL IEEE double sequence as the 24-step withColumn chain
    * (every op below is the same correctly-rounded basic op the chain's
    * codegen emits, so results are bit-equal — asserted in NativeExprSpec),
    * without the chain's quadratic plan-analysis cost. Domain: c ≥ 1
    * (mirrors the chain's CASE-default E=0 for smaller inputs). */
  def detLog2(c: Long): Double = {
    val e = if (c < 2L) 0 else 63 - java.lang.Long.numberOfLeadingZeros(c)
    var y = c.toDouble / (1L << e).toDouble
    var f = 0.0
    var k = 1
    while (k <= 24) {
      val s = y * y
      if (s >= 2.0) { y = s / 2.0; f += 1.0 / (1L << k) }
      else y = s
      k += 1
    }
    e.toDouble + f
  }

  private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz".getBytes("US-ASCII")

  /** graft.functions.geohash's interleaved bisection as one kernel call —
    * the IDENTICAL IEEE sequence as the withColumn chain (every midpoint
    * and comparison below is the same correctly-rounded basic op), so the
    * encoding stays bit-equal to the DuckDB CTE mirror without the chain's
    * quadratic plan-analysis cost. */
  def geohashEnc(lat: Double, lon: Double, chars: Int): UTF8String = {
    val bits = chars * 5
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    var g = 0L
    var b = 0
    while (b < bits) {
      // !(x < mid), not x >= mid: SQL comparison semantics (both the chain
      // and the DuckDB mirror) order NaN ABOVE every double, while Java's
      // >= is false for NaN — the negated form makes NaN take the high
      // branch here too, preserving bit-equality on non-finite input
      if (b % 2 == 0) {
        val mid = (lonLo + lonHi) / 2.0
        if (!(lon < mid)) { g = g * 2 + 1; lonLo = mid }
        else { g = g * 2; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2.0
        if (!(lat < mid)) { g = g * 2 + 1; latLo = mid }
        else { g = g * 2; latHi = mid }
      }
      b += 1
    }
    val out = new Array[Byte](chars)
    var i = 0
    while (i < chars) {
      out(i) = GeohashAlphabet(((g >> (5 * (chars - 1 - i))) & 31L).toInt)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Word n-grams joined by ' ', single pass — exactly the strings of the
    * HOF form `transform(sequence(...), i -> array_join(slice(toks, i, n), ' '))`. */
  def wordShingles(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All `tables` random-hyperplane LSH buckets in ONE pass: bucket t bit p
    * is the sign of Σ ±x[i] with the sign of component i drawn from
    * xxhash64(t*seedStride + p, i) — exactly the per-table
    * [[graft.functions.vectors.rhpBucket]] HOF (int literals hash via
    * hashInt, seed chain 42 → plane → component), but tables×bits
    * interpreted array folds collapse into one compiled loop. */
  def rhpBuckets(vec: ArrayData, bits: Int, tables: Int, seedStride: Int): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < bits) {
        val hseed = XXH64.hashInt(t * seedStride + p, 42L)
        var acc = 0.0d
        var i = 0
        while (i < n) {
          val x = vec.getDouble(i)
          acc += (if ((XXH64.hashInt(i, hseed) & 1L) == 0L) x else -x)
          i += 1
        }
        if (acc > 0.0d) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Spark's double comparison (SQLOrderingUtil semantics): -0.0 == 0.0,
    * NaN greater than everything, NaN == NaN — the order `array_max` over
    * score structs uses, shared by the fused argmax expressions. */
  @inline def cmpDouble(a: Double, b: Double): Int =
    if (a == b) 0
    else if (a < b) -1
    else if (a > b) 1
    else { // at least one NaN
      val an = java.lang.Double.isNaN(a)
      val bn = java.lang.Double.isNaN(b)
      if (an && bn) 0 else if (an) 1 else -1
    }

  /** Double dot product, accumulating left-to-right exactly like the
    * `aggregate(zip_with(...))` fold — bit-identical to the DuckDB oracle's
    * left-associated term chain. */
  def vecDot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}
