package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The one copy of each native kernel loop behind [[VectorExpressions]].
  *
  * An expression's `nullSafeEval` calls the method here, and its
  * `doGenCode` emits a call to the SAME method through the static
  * forwarder scalac gives a top-level object with no companion class
  * (`graft.functions.KernelLoops.dot(a, b)` — how Spark's own expressions
  * call `DateTimeUtils`). The interpreted and the generated path therefore
  * run one loop, and a kernel stays inside whole-stage codegen with no Java
  * template that could drift from its Scala twin. Inputs are non-null: the
  * expressions' null-safe wrappers return null for a null input first.
  *
  * Kernels that read a fixed number of vector elements `require` that many
  * (see [[requireLength]]); in generated code `UnsafeArrayData.getDouble`
  * only `assert`s its index, so a short vector would otherwise read past
  * the array and return garbage instead of failing.
  */
private[graft] object KernelLoops {
  /** The class generated code calls the static forwarders on. */
  private[functions] val javaName: String = getClass.getName.stripSuffix("$")

  /** Fails loudly when `e` has fewer than `need` elements. */
  private[functions] def requireLength(kernel: String, e: ArrayData, need: Int): Unit =
    require(e.numElements() >= need,
      s"$kernel: vector has ${e.numElements()} elements, needs $need")

  /** |A ∩ B| of two sorted array<long>s by a zero-allocation merge walk. On
    * sorted multisets it counts min-multiplicity matches.
    */
  def intersectCount(x: ArrayData, y: ArrayData): Long = {
    val n1 = x.numElements(); val n2 = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n1 && j < n2) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else if (u < v) i += 1 else j += 1
    }
    c
  }

  /** |A ∩ B| / |A ∪ B| of two sorted, distinct array<long>s, with
    * |∪| = n1 + n2 − |∩|; 0.0 when both are empty.
    */
  def sortedJaccard(x: ArrayData, y: ArrayData): Double = {
    val c = intersectCount(x, y)
    val union = x.numElements() + y.numElements() - c
    if (union == 0) 0.0 else c.toDouble / union
  }

  /** Left-to-right dot product over the shorter array's length. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  /** h = fold(seed, h·31 + code) mod `mod` over the UTF-16 code units. */
  def rollingHash31(text: UTF8String, seed: Long, mod: Long): Long = {
    val s = text.toString
    var h = seed; var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i)) % mod; i += 1 }
    h
  }

  /** Σₘ dtab[m][codes[m]]: long adds in code order. */
  def adcSum(dtab: ArrayData, codes: ArrayData): Long = {
    val n = codes.numElements()
    var s = 0L; var i = 0
    while (i < n) { s += dtab.getArray(i).getLong(codes.getInt(i)); i += 1 }
    s
  }

  private val permA: Array[Long] = Array.tabulate(TextHash.K)(TextHash.permA)
  private val permB: Array[Long] = Array.tabulate(TextHash.K)(TextHash.permB)

  /** K permutation minima (h·A + B) mod P over hashes already reduced mod
    * P; null for an empty array (no minimum exists).
    */
  def minhashSig(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return null
    val sig = Array.fill(TextHash.K)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i); var k = 0
      while (k < TextHash.K) {
        val x = (h * permA(k) + permB(k)) % TextHash.P
        if (x < sig(k)) sig(k) = x
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 60-bit SimHash: bit b is set when more hashes have it set than not
    * (a multiset — repeats vote repeatedly); 0 for an empty array.
    */
  def simhash64(hashes: ArrayData): Long = {
    val votes = new Array[Int](60)
    var i = 0
    while (i < hashes.numElements()) {
      val h = hashes.getLong(i); var b = 0
      while (b < 60) { if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
      i += 1
    }
    var out = 0L; var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Fills `dist(k)` with |s|² − 2·s·c + |c|² of subspace `mi` of `e`
    * against codeword k of cell `cell` — the composed
    * dot(s,s) − 2·dot(s,c) + cc form the oracle mirrors, per-term order
    * included (|s|² is the same whichever codeword re-derived it, so it is
    * hoisted). `cen` is [((cell·M + m)·K + k)·Dsub + d], `cc` the matching
    * [(cell·M + m)·K + k] |c|² constants; cell 0 is the plain PQ layout.
    */
  private def pqSubspace(kernel: String, e: ArrayData, cell: Int, mi: Int,
      cen: Array[Double], cc: Array[Double], m: Int, k: Int, dsub: Int,
      dist: Array[Double]): Unit = {
    requireLength(kernel, e, m * dsub)
    val base = mi * dsub
    var ss = 0.0; var d = 0
    while (d < dsub) { val x = e.getDouble(base + d); ss += x * x; d += 1 }
    var ki = 0
    while (ki < k) {
      val ci = (cell * m + mi) * k + ki
      val coff = ci * dsub
      var sc = 0.0
      d = 0
      while (d < dsub) { sc += e.getDouble(base + d) * cen(coff + d); d += 1 }
      dist(ki) = ss - 2.0 * sc + cc(ci)
      ki += 1
    }
  }

  /** Per subspace, the nearest codeword of cell `cell` (ties to the smaller
    * code: strict-improvement scan in ascending k).
    */
  def pqEncode(e: ArrayData, cell: Int, cen: Array[Double], cc: Array[Double],
      m: Int, k: Int, dsub: Int): ArrayData = {
    val dist = new Array[Double](k)
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      pqSubspace("pq_encode", e, cell, mi, cen, cc, m, k, dsub, dist)
      var best = Double.PositiveInfinity; var bestK = 0; var ki = 0
      while (ki < k) { if (dist(ki) < best) { best = dist(ki); bestK = ki }; ki += 1 }
      out(mi) = bestK
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** The M×K ADC table floor(10⁶·dist) — Spark's `floor(x·1e6)` on doubles. */
  def pqDtab(e: ArrayData, cen: Array[Double], cc: Array[Double],
      m: Int, k: Int, dsub: Int): ArrayData = {
    val dist = new Array[Double](k)
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      pqSubspace("pq_dtab", e, 0, mi, cen, cc, m, k, dsub, dist)
      val row = new Array[Long](k)
      var ki = 0
      while (ki < k) { row(ki) = math.floor(dist(ki) * 1000000.0).toLong; ki += 1 }
      out(mi) = new GenericArrayData(row)
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** |e|² − 2·e·c + |c|² from `e` to every centroid of the flat row-major
    * `cen` (`sumsq` holds each |c|²), with left-to-right dot accumulation —
    * the arithmetic of the composed sqDist forms the IVF kernels replaced.
    * The distance is never −0.0: |e|² starts at +0.0 and only adds squares,
    * and x − y or x + y is −0.0 only when x is.
    */
  private def centroidDists(kernel: String, e: ArrayData, cen: Array[Double],
      sumsq: Array[Double], dim: Int): Array[Double] = {
    requireLength(kernel, e, dim)
    val a = new Array[Double](dim)
    var i = 0
    while (i < dim) { a(i) = e.getDouble(i); i += 1 }
    var ee = 0.0
    i = 0
    while (i < dim) { ee += a(i) * a(i); i += 1 }
    val dists = new Array[Double](sumsq.length)
    var c = 0
    while (c < sumsq.length) {
      var dc = 0.0; var d = 0
      val base = c * dim
      while (d < dim) { dc += a(d) * cen(base + d); d += 1 }
      dists(c) = ee - 2.0 * dc + sumsq(c)
      c += 1
    }
    dists
  }

  /** struct(cid, dist) of the nearest centroid; strict `<` keeps the lowest
    * cid on ties, and a row whose distances are all NaN gets (0, +∞).
    */
  def nearestCell(e: ArrayData, cen: Array[Double], sumsq: Array[Double],
      dim: Int): InternalRow = {
    val d = centroidDists("nearest_cell", e, cen, sumsq, dim)
    var best = Double.PositiveInfinity; var bestC = 0; var c = 0
    while (c < d.length) { if (d(c) < best) { best = d(c); bestC = c }; c += 1 }
    InternalRow(bestC, best)
  }

  /** The `nprobe` nearest centroid ids ordered by (distance, cid). */
  def nearestCells(e: ArrayData, cen: Array[Double], sumsq: Array[Double],
      dim: Int, nprobe: Int): ArrayData =
    new GenericArrayData(smallestFirst(
      centroidDists("nearest_cells", e, cen, sumsq, dim), nprobe))

  /** Indices of the `n` smallest `d` by (java.lang.Double.compare, index) —
    * array_sort's lexicographic struct order on (double, int): −0.0 before
    * 0.0, NaN last, ties to the lower index. Selection scan: indices start
    * ascending, so strict-< keeps ties on the lower one.
    */
  def smallestFirst(d: Array[Double], n: Int): Array[Int] = {
    val c = d.length
    val idx = Array.tabulate(c)(identity)
    val out = new Array[Int](math.min(n, c))
    var k = 0
    while (k < out.length) {
      var best = k
      var t = k + 1
      while (t < c) {
        val cmp = java.lang.Double.compare(d(idx(t)), d(idx(best)))
        if (cmp < 0 || (cmp == 0 && idx(t) < idx(best))) best = t
        t += 1
      }
      val tmp = idx(k); idx(k) = idx(best); idx(best) = tmp
      out(k) = idx(k)
      k += 1
    }
    out
  }

  /** The first min(|e|, dim) elements: a shorter vector dots only its own
    * prefix, a longer one only the first `dim`.
    */
  private def lshPrefix(e: ArrayData, dim: Int): Array[Double] = {
    val a = new Array[Double](math.min(e.numElements(), dim))
    var i = 0
    while (i < a.length) { a(i) = e.getDouble(i); i += 1 }
    a
  }

  /** Table `t`'s plane dots into `dots` (the same left-to-right
    * accumulation as [[dot]]) and its base bucket Σ{1L << j : dot_j > 0}.
    * `planes` is [(t·nPlanes + j)·dim + d].
    */
  private def tableDots(a: Array[Double], planes: Array[Double], nPlanes: Int,
      dim: Int, t: Int, dots: Array[Double]): Long = {
    var bucket = 0L; var j = 0
    while (j < nPlanes) {
      val base = (t * nPlanes + j) * dim
      var dot = 0.0; var d = 0
      while (d < a.length) { dot += a(d) * planes(base + d); d += 1 }
      dots(j) = dot
      if (dot > 0) bucket += (1L << j)
      j += 1
    }
    bucket
  }

  /** Every table's base bucket, in table order. */
  def lshTableBuckets(e: ArrayData, planes: Array[Double], nPlanes: Int,
      nTables: Int, dim: Int): ArrayData = {
    val a = lshPrefix(e, dim)
    val dots = new Array[Double](nPlanes)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) { out(t) = tableDots(a, planes, nPlanes, dim, t, dots); t += 1 }
    new GenericArrayData(out)
  }

  /** Per table the probes {base, flip b₁, flip b₂, flip b₁b₂} as (tbl,
    * bucket) structs, b₁/b₂ the two lowest (|dot|, j) planes: strict-<
    * selection by Double.compare, ties to the lower j — array_sort's
    * lexicographic (|dot|, j) struct order. Needs nPlanes ≥ 2.
    */
  def multiProbeBuckets(e: ArrayData, planes: Array[Double], nPlanes: Int,
      nTables: Int, dim: Int): ArrayData = {
    val a = lshPrefix(e, dim)
    val dots = new Array[Double](nPlanes)
    val out = new Array[Any](nTables * 4)
    var t = 0
    while (t < nTables) {
      val base = tableDots(a, planes, nPlanes, dim, t, dots)
      var j1 = -1; var j2 = -1; var j = 0
      while (j < nPlanes) {
        val m = math.abs(dots(j))
        if (j1 < 0 || java.lang.Double.compare(m, math.abs(dots(j1))) < 0) {
          j2 = j1; j1 = j
        } else if (j2 < 0 || java.lang.Double.compare(m, math.abs(dots(j2))) < 0) {
          j2 = j
        }
        j += 1
      }
      val m1 = 1L << j1
      val m2 = 1L << j2
      out(t * 4) = InternalRow(t, base)
      out(t * 4 + 1) = InternalRow(t, base ^ m1)
      out(t * 4 + 2) = InternalRow(t, base ^ m2)
      out(t * 4 + 3) = InternalRow(t, base ^ m1 ^ m2)
      t += 1
    }
    new GenericArrayData(out)
  }

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The top 60 bits of md5(bytes) — the first 15 hex chars of the digest,
    * i.e. the portable `conv(substring(md5(s),1,15),16,10)` — then `% mod`
    * when mod > 0.
    */
  private def hash60(md: MessageDigest, bytes: Array[Byte], mod: Long): Long = {
    md.reset()
    val d = md.digest(bytes)
    var h = 0L; var b = 0
    while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    h = h >>> 4
    if (mod > 0) h % mod else h
  }

  /** [[hash60]] of each string's UTF-8 bytes. */
  def hash60Array(strings: ArrayData, mod: Long): ArrayData = {
    val md = md5.get()
    val out = new Array[Long](strings.numElements())
    var i = 0
    while (i < out.length) { out(i) = hash60(md, strings.getUTF8String(i).getBytes, mod); i += 1 }
    new GenericArrayData(out)
  }

  /** [[hash60]] of each n-token shingle string (tokens joined by single
    * spaces), one per position, or deduplicated on the shingle STRING when
    * `distinct` (list_distinct's semantics: an md5 collision between
    * distinct shingles still yields the duplicate hash). Null below n tokens.
    */
  def shingleHashes(toks: ArrayData, n: Int, mod: Long, distinct: Boolean): ArrayData = {
    val ntok = toks.numElements()
    if (ntok < n) return null
    val md = md5.get()
    val seen = if (distinct) new java.util.HashSet[String]() else null
    val out = new scala.collection.mutable.ArrayBuffer[Long](ntok - n + 1)
    val words = new Array[String](ntok)
    var i = 0
    while (i < ntok) { words(i) = toks.getUTF8String(i).toString; i += 1 }
    val sb = new java.lang.StringBuilder
    i = 0
    while (i <= ntok - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val s = sb.toString
      if (seen == null || seen.add(s)) out += hash60(md, s.getBytes(UTF_8), mod)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Every character 4-gram of `s` packed base-256 into a long,
    * ((c0·256 + c1)·256 + c2)·256 + c3, by a rolling pack that keeps the
    * low 3 chars and shifts in the next; chars above 255 clamp to 255.
    * Empty below 4 chars.
    */
  def packedGrams4(s: String): Array[Long] = {
    val n = s.length - 3
    if (n <= 0) return Array.emptyLongArray
    def cp(k: Int): Long = { val c = s.charAt(k).toLong; if (c > 255) 255L else c }
    val out = new Array[Long](n)
    var acc = (cp(0) * 256 + cp(1)) * 256 + cp(2)
    var i = 0
    while (i < n) {
      acc = ((acc * 256) + cp(i + 3)) & 0xffffffffL
      out(i) = acc
      i += 1
    }
    out
  }

  /** [[packedGrams4]] sorted, distinct, as order-preserving ints (the
    * sign bit XOR-ed: v1 < v2 ⟺ w1 < w2 signed).
    */
  def sortedGramInts(s: String): Array[Int] = {
    val grams = packedGrams4(s)
    if (grams.isEmpty) return Array.emptyIntArray
    val out = new Array[Int](grams.length)
    var i = 0
    while (i < out.length) { out(i) = (grams(i) ^ 0x80000000L).toInt; i += 1 }
    java.util.Arrays.sort(out)
    var w = 1; var r = 1
    while (r < out.length) {
      if (out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOfRange(out, 0, w)
  }
}
