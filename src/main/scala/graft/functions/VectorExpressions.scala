package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GetStructField,
  Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot array kernels.
  *
  * The higher-order-function formulations (`aggregate(zip_with(...))`) are
  * interpreted per element — measured 43 s for 12.5M×64-dim cosine pairs at
  * sf0.1. These expressions run a tight loop instead (preference order (b)
  * from the design brief: custom Expression before UDF).
  *
  * Where the loops live: every loop that a `doGenCode` kernel runs, and
  * every loop two kernels share, is ONE method of [[KernelLoops]].
  * `nullSafeEval` calls it directly and `doGenCode` emits a one-line call
  * to the same method, so whole-stage codegen keeps the kernel without a
  * second, hand-written Java copy of its loop. `CodegenFallback` kernels
  * whose loop nothing else shares keep it in their own `nullSafeEval`.
  */
object VectorExpressions {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def minhashSig(h0s: Column): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(h0s)))

  def simhash64(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))

  def sortedJaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def packedGrams4(text: Column): Column =
    ColumnBridge.column(PackedGrams4(ColumnBridge.expression(text)))

  def sortedGramInts(text: Column): Column =
    ColumnBridge.column(SortedGramInts(ColumnBridge.expression(text)))

  /** [[PqEncodeCell]] on cell 0: its slab offset ((0·M + m)·K + k)·Dsub is
    * the plain single-codebook layout.
    */
  def pqEncode(e: Column, cen: Array[Double], cc: Array[Double],
      m: Int, k: Int, dsub: Int): Column =
    ColumnBridge.column(PqEncodeCell(ColumnBridge.expression(e), Literal(0), cen, cc, m, k, dsub))

  def pqEncodeCell(e: Column, cid: Column, cen: Array[Double], cc: Array[Double],
      m: Int, k: Int, dsub: Int): Column =
    ColumnBridge.column(PqEncodeCell(ColumnBridge.expression(e),
      ColumnBridge.expression(cid), cen, cc, m, k, dsub))

  def pqDtab(e: Column, cen: Array[Double], cc: Array[Double],
      m: Int, k: Int, dsub: Int): Column =
    ColumnBridge.column(PqDtab(ColumnBridge.expression(e), cen, cc, m, k, dsub))

  def adcSum(dtab: Column, codes: Column): Column =
    ColumnBridge.column(AdcSum(ColumnBridge.expression(dtab), ColumnBridge.expression(codes)))

  def rollingHash31(text: Column, seed: Long, mod: Long): Column =
    ColumnBridge.column(RollingHash31(ColumnBridge.expression(text), seed, mod))

  def hash60Array(strings: Column, mod: Long): Column =
    ColumnBridge.column(Hash60Array(ColumnBridge.expression(strings), mod))

  def nbArgmax(toks: Column, vocab: Array[String], cats: Array[String],
      terms: Array[Double], missing: Array[Double]): Column =
    ColumnBridge.column(NbArgmax(ColumnBridge.expression(toks), vocab, cats, terms, missing))

  def subCentroid(e: Column, cid: Column, cen: Array[Double], dim: Int): Column =
    ColumnBridge.column(SubCentroid(ColumnBridge.expression(e), ColumnBridge.expression(cid), cen, dim))

  def shingleHashN(toks: Column, n: Int, mod: Long, distinct: Boolean): Column =
    ColumnBridge.column(ShingleHashN(ColumnBridge.expression(toks), n, mod, distinct))

  /** The `cid` field of [[nearestCell]]. */
  def nearestCid(e: Column, cen: Array[Double], sumsq: Array[Double], dim: Int): Column =
    ColumnBridge.column(GetStructField(NearestCellExpr(ColumnBridge.expression(e), cen, sumsq, dim),
      0, Some("cid")))

  def nearestCell(e: Column, cen: Array[Double], sumsq: Array[Double], dim: Int): Column =
    ColumnBridge.column(NearestCellExpr(ColumnBridge.expression(e), cen, sumsq, dim))

  def nearestCells(e: Column, cen: Array[Double], sumsq: Array[Double],
      dim: Int, nprobe: Int): Column =
    ColumnBridge.column(NearestCellsExpr(ColumnBridge.expression(e), cen, sumsq, dim, nprobe))

  def lshTableBuckets(e: Column, planes: Array[Double],
      nPlanes: Int, nTables: Int): Column =
    ColumnBridge.column(LshTableBuckets(ColumnBridge.expression(e), planes, nPlanes, nTables))

  def multiProbeBuckets(e: Column, planes: Array[Double],
      nPlanes: Int, nTables: Int): Column =
    ColumnBridge.column(MultiProbeBuckets(ColumnBridge.expression(e), planes, nPlanes, nTables))

  def interleave16(a: Column, b: Column): Column =
    ColumnBridge.column(Interleave16(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def interleaveBits(cols: Seq[Column], bits: Int): Column =
    ColumnBridge.column(InterleaveBits(cols.map(ColumnBridge.expression), bits))

  def quantileCode16(v: Column, boundaries: Array[Long]): Column =
    ColumnBridge.column(QuantileCode16(ColumnBridge.expression(v), boundaries))

  def ngramLangScores(text: Column, weights: Array[Long], priors: Array[Long],
      buckets: Int): Column =
    ColumnBridge.column(NgramLangScores(ColumnBridge.expression(text),
      weights, priors, buckets))

  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def maxTokenFreq(toks: Column): Column =
    ColumnBridge.column(MaxTokenFreq(ColumnBridge.expression(toks)))

  def deflateSize(text: Column, level: Int): Column =
    ColumnBridge.column(DeflateSize(ColumnBridge.expression(text), level))

  def bpeCount(toks: Column, merges: Array[(String, String)]): Column =
    ColumnBridge.column(BpeCount(ColumnBridge.expression(toks), merges))
}

/** Total BPE symbol count of a token array under a learned merge table —
  * the standard greedy apply [GPT-2 encoder.py order]: per word, start
  * from characters + `</w>`, repeatedly merge ALL occurrences of the
  * LOWEST-RANK adjacent pair present, until no adjacent pair is in the
  * table. The merge table is baked into the expression (model-as-literals,
  * same footing as the ANN codebooks), so tokenization is a zero-shuffle
  * narrow scan. Emits the count, not the symbols — the downstream signal
  * (tokens-per-doc for packing/cost estimates) without materializing
  * subword arrays.
  */
case class BpeCount(child: Expression, merges: Array[(String, String)])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) => m.put(a + "\u0000" + b, i) }
    m
  }

  /** word → symbol-count memo, per thread (expressions are shared across
    * executor threads). Token frequency is Zipf — the hot head dominates
    * occurrences, so memoizing turns the per-occurrence greedy loop into a
    * hash probe (production tokenizers cache word→bpe exactly like this).
    * Bounded: cleared at 64k entries so a pathological vocab can't grow
    * the heap. Measured at sf10: apply pass ~42 s → ~11 s (query 51.4 → 20.4 incl. the 9.4 s dict pass).
    */
  @transient private lazy val memo =
    new ThreadLocal[java.util.HashMap[String, Integer]] {
      override def initialValue() = new java.util.HashMap[String, Integer]()
    }

  override protected def nullSafeEval(v: Any): Any = {
    val in = v.asInstanceOf[ArrayData]
    val cache = memo.get()
    if (cache.size() > 65536) cache.clear()
    var total = 0L
    var t = 0
    while (t < in.numElements()) {
      val w = in.getUTF8String(t).toString
      var c = cache.get(w)
      if (c == null) { c = Integer.valueOf(segmentCount(w)); cache.put(w, c) }
      total += c.intValue()
      t += 1
    }
    total
  }

  private def segmentCount(word: String): Int = {
    var syms = new scala.collection.mutable.ArrayBuffer[String](word.length + 1)
    word.foreach(c => syms += c.toString)
    syms += "</w>"
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.get(syms(i) + "\u0000" + syms(i + 1))
        if (r != null && r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = merges(bestRank)
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out
        if (syms.length < 2) done = true
      }
    }
    syms.length
  }
}

/** Deflate-compressed byte count of a string's UTF-8 bytes at a FIXED
  * level — the compression-ratio boilerplate signal web-corpus pipelines
  * threshold on (templated text compresses far below prose). Raw deflate
  * (nowrap, no zlib header) so the count is pure codec output. The codec is
  * JVM-implementation-specific → consumers are rows-only for the driver
  * oracle and spec-pinned instead (ordering + determinism), like the
  * sketch aggregates. CodegenFallback: the per-row deflate dominates; the
  * Deflater is pooled per thread (reset between rows, ended with the task).
  */
case class DeflateSize(child: Expression, level: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  @transient private lazy val local =
    new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater = {
        val d = new java.util.zip.Deflater(level, true)
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => d.end())
        }
        d
      }
    }

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val d = local.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

/** |A ∩ B| of two SORTED, DISTINCT array<long> columns — the same
  * zero-allocation merge walk as [[SortedJaccard]], kept as a separate
  * count so asymmetric measures (containment |∩|/|A|) divide by their own
  * denominator in exact integer terms.
  */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    KernelLoops.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${KernelLoops.javaName}.intersectCount($a, $b)")
}

/** Highest frequency of any single token in an array<string> — the
  * max-word-repetition feature of quality-rule cascades. One O(n) hash-map
  * pass per row; the HOF formulation
  * (`array_max(transform(array_distinct(t), x -> size(filter(t, ...))))`)
  * is O(unique·n) AND interpreted. CodegenFallback: the cost is the
  * per-token map operations on strings, which codegen can't remove (same
  * justification as Hash60Array's md5 calls).
  */
case class MaxTokenFreq(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n == 0) 0L
    else {
      val m = new java.util.HashMap[AnyRef, Integer](n * 2)
      var best = 0; var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        val c = m.getOrDefault(t, 0) + 1
        m.put(t, c)
        if (c > best) best = c
        i += 1
      }
      best.toLong
    }
  }
}

/** Fused hashed-char-trigram NB scorer for
  * [[graft.operators.LangIdModel]]: one pass over the text, per gram a
  * positional-polynomial bucket then `langs` integer adds off the flat
  * [bucket × lang] weight table — emits the per-language micro-log score
  * array (priors included). The composed form (transform/sequence/substr +
  * aggregate over a 4096-long literal array per language) is interpreted
  * per element; this is the [[NbArgmax]] model-serve precedent with
  * integer arithmetic so the DuckDB oracle reproduces scores bit-exactly.
  * Gram hashing matches the oracle's `ascii(substr(...))` polynomial for
  * the ASCII documents it scores.
  */
case class NgramLangScores(child: Expression, weights: Array[Long],
    priors: Array[Long], buckets: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val n = priors.length
    val acc = priors.clone()
    // CODE POINTS, not UTF-16 units: the oracle's substr/length/ascii are
    // code-point-based, and a surrogate pair would otherwise change both
    // the gram count and the hashes (cross-engine divergence on any
    // non-BMP character)
    val cps = s.codePoints().toArray
    var i = 0
    while (i < cps.length - 2) {
      val off = ((cps(i) * 961 + cps(i + 1) * 31 + cps(i + 2)) % buckets) * n
      var l = 0
      while (l < n) { acc(l) += weights(off + l); l += 1 }
      i += 1
    }
    new GenericArrayData(acc)
  }
}

/** Equal-mass 16-bit rank code for [[graft.io.Layout.zorderWrite]]:
  * binary-search the value into the sorted distinct approx-quantile
  * boundary array (≤4095 longs — zorderWrite derives
  * k = min(4095, max(255, 4·nFiles−1)) cut points, so at the ceiling the
  * literal is ~32 KB per column, a rounding error against the ANN
  * codebook literals that already ride plans here) and spread the bucket
  * index across 0..65535. Quantile ranks — not linear (min,max) scaling —
  * keep the Morton curve's z-property on skewed columns, where linear
  * scaling collapses most of a power-law distribution into a handful of
  * codes and the dimension's file-skip dies. CodegenFallback like
  * [[Interleave16]]: the write pass runs once per layout, a ~log₂(4096)
  * branch per row is nowhere near the profile.
  */
case class QuantileCode16(child: Expression, boundaries: Array[Long])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any = {
    val i = java.util.Arrays.binarySearch(boundaries, v.asInstanceOf[Long])
    val idx = if (i >= 0) i + 1 else -i - 1 // values on a boundary go right
    idx.toLong * 65535L / math.max(1, boundaries.length)
  }
}

/** 32-bit Morton (Z-order) code of two 16-bit values: bit i of `a` lands at
  * position 2i+1, bit i of `b` at 2i — locality in BOTH dimensions maps to
  * locality in the code, which is what makes sorting by it cluster a table
  * for multi-dimensional min/max file skipping ([[graft.io.Layout
  * .zorderWrite]]). Inputs are masked to 16 bits.
  */
case class Interleave16(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)

  override protected def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[Long] & 0xffffL
    val b = bv.asInstanceOf[Long] & 0xffffL
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((a >> i) & 1L) << (2 * i + 1)
      z |= ((b >> i) & 1L) << (2 * i)
      i += 1
    }
    z
  }
}

/** k-dimensional Morton (Z-order) code — [[Interleave16]] generalized to
  * 2–4 dimensions for [[graft.io.Layout.zorderWriteK]] (production
  * clustering wants tenant × time × key, not just two columns): bit i of
  * dimension j lands at position k·i + (k−1−j), so for k = 2 the layout is
  * BIT-IDENTICAL to [[Interleave16]] (dim 0 at 2i+1, dim 1 at 2i) — the
  * 2-dim write path delegates here with byte-identical output. Inputs are
  * [[QuantileCode16]]'s 16-bit rank codes; each is down-shifted to the
  * top `bits` bits (bits = min(16, 63/k), so k·bits ≤ 63 — the code never
  * touches the sign bit, which would invert the range-partition order).
  * CodegenFallback like the 2-dim form: one write pass per layout.
  */
case class InterleaveBits(children: Seq[Expression], bits: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(children.size >= 2 && children.size <= 4,
    s"InterleaveBits supports 2-4 dimensions, got ${children.size}")
  require(bits >= 1 && bits * children.size <= 63,
    s"InterleaveBits: ${children.size} dims x $bits bits exceeds a sign-safe long")
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = children.length
    var z = 0L
    var j = 0
    while (j < k) {
      val v = children(j).eval(input)
      if (v == null) return null
      // 16-bit rank code -> top `bits` bits (keeps the rank ORDER intact)
      val a = (v.asInstanceOf[Long] & 0xffffL) >> (16 - bits)
      var i = 0
      while (i < bits) {
        z |= ((a >> i) & 1L) << (i * k + (k - 1 - j))
        i += 1
      }
      j += 1
    }
    z
  }
}

/** Fused coarse-quantizer assignment as `struct(cid, dist)`: argmin over C
  * centroids of |e|² − 2·e·c + |c|², ties to the lower cid — bit-identical
  * to the composed `array_min(array(struct(sqDist, cid)...))` form it
  * replaces (same left-to-right dot accumulation, same operation order,
  * strict-< keeps the first/lowest cid), but one tight loop instead of C
  * struct allocations + an array sort pass. Its `cid` field is the plain
  * assignment ([[VectorExpressions.nearestCid]]); operators that also need
  * the prototypicality value (cluster-balanced pruning) read `dist` from
  * the same pass. `cen` is the flat row-major centroid matrix, `sumsq` the
  * precomputed per-centroid |c|² using the same Scala summation order as
  * the composed form's `lit(cen.map(x*x).sum)`. A vector shorter than
  * `dim` fails loudly. CodegenFallback: the fusion (not codegen) is the
  * win; measured on the corpus assign of the IVF family at sf0.1.
  */
case class NearestCellExpr(child: Expression, cen: Array[Double],
    sumsq: Array[Double], dim: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.nearestCell(v.asInstanceOf[ArrayData], cen, sumsq, dim)
}

/** The nprobe nearest centroid ids, ordered by (distance, cid) ascending —
  * the IVF probe list as ONE kernel. Replaces the composed
  * `slice(array_sort(array(struct(sqDist(e, c), cid)...)), 1, nprobe)`
  * forest (C sqDist subtrees, each re-deriving |e|², plus a C-struct
  * array allocation and sort per query row). Bit-identical order: the
  * same |e|² − 2·e·c + |c|² distance loop as [[NearestCellExpr]]
  * (|e|² is the same value whichever centroid's subtree re-derived it),
  * and the (d, cid) comparison uses java.lang.Double.compare — exactly
  * array_sort's lexicographic struct order on (double, int), including
  * the −0.0 < 0.0 and ties-to-lower-cid cases. CodegenFallback like
  * [[NearestCellExpr]]: this runs on the (bounded) query side only.
  */
case class NearestCellsExpr(child: Expression, cen: Array[Double],
    sumsq: Array[Double], dim: Int, nprobe: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.nearestCells(v.asInstanceOf[ArrayData], cen, sumsq, dim, nprobe)
}

/** All nTables LSH sign-bucket codes of a vector in ONE kernel — the
  * corpus/query bucketing pass of the LSH family. Replaces the composed
  * per-table forest (nTables·nPlanes [[DotProduct]] subtrees, each against
  * its own 64-double literal, summed into a bucket via when/otherwise) —
  * ~50 KB of literal-heavy plan text planned and codegen'd per run, on
  * BOTH sides of the bucket join. Bit-identical: each plane's dot is the
  * same left-to-right accumulation over min(|e|, dim) elements as
  * [[DotProduct]], the sign test is the same `dot > 0`, and the bucket is
  * the same sum of distinct `1L << j` bits (exact long adds, order-free).
  * `planes` is the flat [(table·nPlanes + plane)·dim + d] matrix of the
  * SAME deterministic plane constants the composed form inlined.
  * CodegenFallback like [[NearestCellExpr]]: the per-row loop dominates.
  * A null vector gives a null array, which `explode`/`posexplode` turn
  * into NO bucket rows: the vector silently drops out of the join.
  */
case class LshTableBuckets(child: Expression, planes: Array[Double],
    nPlanes: Int, nTables: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  private val dim = planes.length / (nPlanes * nTables)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.lshTableBuckets(v.asInstanceOf[ArrayData], planes, nPlanes, nTables, dim)
}

/** The multi-probe LSH probe list [Lv et al., VLDB'07] as ONE kernel:
  * per table {base, flip b₁, flip b₂, flip b₁b₂} where b₁/b₂ are the two
  * lowest-|margin| planes — 4·nTables (tbl, bucket) structs in table
  * order. Replaces the composed planeDotCols + multiProbeStructs forest
  * (nTables·nPlanes dot literals materialized as columns, then per table
  * an array_sort over (|dot|, j) structs). Bit-identical: same dot
  * accumulation as [[DotProduct]], same `dot > 0` base bits, and the two
  * minima are selected by (java.lang.Double.compare on |dot|, then j) —
  * exactly array_sort's lexicographic struct order (|dot| is never NaN on
  * finite inputs and never −0.0, so Double.compare ≡ the SQL double
  * order; ties fall to the lower plane index in both forms). Probe order
  * within a table matches the composed Seq exactly.
  */
case class MultiProbeBuckets(child: Expression, planes: Array[Double],
    nPlanes: Int, nTables: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  // the probes flip the TWO lowest-margin planes — with one plane the
  // second index stays -1 and `1L << -1` emits garbage buckets silently
  require(nPlanes >= 2, s"MultiProbeBuckets needs nPlanes >= 2, got $nPlanes")
  private val dim = planes.length / (nPlanes * nTables)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tbl", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false))), containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.multiProbeBuckets(v.asInstanceOf[ArrayData], planes, nPlanes, nTables, dim)
}

/** N-word shingle hashes of a token array in ONE pass — fuses a shingle
  * HOF (a transform building a shingle string per position, then
  * array_distinct) with [[Hash60Array]]'s hash. With n = 3 and
  * `distinct = true` it is the dedup family's 3-shingle set (and the
  * `graft_shingle_hash3` SQL function); longer grams serve the
  * contamination / repeated-span operators (n-gram decontamination
  * conventionally uses 8–13-gram collisions). Portable construction:
  * shingle string joined with single spaces, 60-bit md5-prefix hash,
  * optional `% mod`. `distinct = false` keeps one hash PER POSITION
  * (occurrence counting); `true` dedups on the shingle STRING exactly like
  * list_distinct, so an md5 collision between distinct shingles still
  * yields the duplicate hash the oracle produces. Null for arrays shorter
  * than n tokens (callers filter those, matching a `size(toks) >= n` guard).
  */
case class ShingleHashN(child: Expression, n: Int, mod: Long, distinct: Boolean)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.shingleHashes(v.asInstanceOf[ArrayData], n, mod, distinct)
}

/** Residual vector r = e − centroid(cid): the per-row centroid subtraction
  * residual IVF-PQ needs before PQ encoding / ADC table construction
  * (FAISS's by_residual layout). `cen` is the flat row-major centroid
  * matrix [cid·dim + d]. Elementwise single subtractions — exact in FP, so
  * residuals are engine-portable. A vector shorter than `dim` fails
  * loudly. CodegenFallback: one short per-row loop.
  */
case class SubCentroid(left: Expression, right: Expression,
    cen: Array[Double], dim: Int) extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)

  override protected def nullSafeEval(ev: Any, cidv: Any): Any = {
    val e = ev.asInstanceOf[ArrayData]
    KernelLoops.requireLength("sub_centroid", e, dim)
    val base = cidv.asInstanceOf[Int] * dim
    val out = new Array[Double](dim)
    var d = 0
    while (d < dim) { out(d) = e.getDouble(d) - cen(base + d); d += 1 }
    new GenericArrayData(out)
  }
}

/** Map-side Naive Bayes serving: the full add-1-smoothed multinomial argmax
  * over a token array in ONE narrow pass, with the trained model inlined as
  * literal arrays (the NB model is vocab×cats log-probs — the classic
  * fits-in-memory serving artifact, same footing as the IVF/PQ codebooks).
  * `terms` is laid out [wordIdx·nCats + cat] = ln((cnt+1)/(catTotal+V));
  * `missing` is the per-cat unseen-word term. Argmax scans categories in
  * ascending name order keeping the first strict maximum — exactly the
  * `row_number() OVER (ORDER BY score DESC, source ASC) = 1` tie rule of the
  * join formulation this replaces. Replaces a doc-word re-explode + model
  * join fan + window (2 corpus scans, 3 shuffles, measured 1.7–3.0 s at
  * sf0.1) with one scan and zero shuffles after the model aggregation.
  * CodegenFallback: the per-token hash probes dominate; boxing is noise.
  */
case class NbArgmax(child: Expression, vocab: Array[String], cats: Array[String],
    terms: Array[Double], missing: Array[Double])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  @transient private lazy val wordIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) { m.put(vocab(i), i); i += 1 }
    m
  }

  override protected def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val n = cats.length
    val scores = new Array[Double](n)
    var i = 0
    while (i < toks.numElements()) {
      val idx = wordIdx.get(toks.getUTF8String(i).toString)
      var c = 0
      if (idx == null) while (c < n) { scores(c) += missing(c); c += 1 }
      else {
        val off = idx.intValue() * n
        while (c < n) { scores(c) += terms(off + c); c += 1 }
      }
      i += 1
    }
    var best = 0
    var c = 1
    while (c < n) { if (scores(c) > scores(best)) best = c; c += 1 }
    org.apache.spark.unsafe.types.UTF8String.fromString(cats(best))
  }
}

/** Per-element 60-bit md5 hash of an array<string>, optionally reduced
  * `% mod` (mod = 0 → none): identical to the portable
  * `conv(substring(md5(s),1,15),16,10)` construction — the first 15 hex
  * chars of the digest are its first 8 bytes big-endian shifted right 4 —
  * but fused into one pass. The `transform(_, s => hash60(s))` HOF it
  * replaces evaluates interpreted per element. CodegenFallback: md5 itself
  * dominates. Digest instance is ThreadLocal (reset per element), so no
  * per-row allocation; [[ShingleHashN]] shares the hash.
  */
case class Hash60Array(child: Expression, mod: Long)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.hash60Array(v.asInstanceOf[ArrayData], mod)
}

/** Polynomial rolling hash h = fold(seed, h·31 + code) mod `mod` over the
  * string's UTF-16 code units — one scan, no per-character string
  * allocation. Replaces the interpreted
  * `aggregate(filter(split(text, '')), ...)` fold, which materialized a
  * string PER CHARACTER before folding. Arithmetic matches the DuckDB
  * oracle's list_reduce over ord() exactly (ASCII corpus: code unit =
  * codepoint = ord).
  */
case class RollingHash31(child: Expression, seed: Long, mod: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.rollingHash31(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], seed, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, in => s"${KernelLoops.javaName}.rollingHash31($in, ${seed}L, ${mod}L)")
}

/** Fused ADC distance-table builder: the M×K table of
  * floor(10⁶·(|s|² − 2·s·c + |c|²)) longs a PQ query broadcasts — one pass,
  * one per-subspace |s|², zero per-(m,k) allocations. Replaces the composed
  * `array(array(floor(subSqDist(..)·10⁶)...))` forest (M·K = 128 subtrees,
  * each slicing the vector and re-deriving |s|²), which dominated the ANN
  * family's per-run planning cost and ran as a wall of generated
  * sub-expressions. Arithmetic — per-term order included — is EXACTLY the
  * composed dot(s,s) − 2·dot(s,c) + cc form (|s|² is the same value
  * whichever k re-derived it, so hoisting it per subspace is bit-identical),
  * and the scale/floor matches Spark's `floor(x·1e6)` on doubles
  * ((long) Math.floor). `cen`/`cc` are laid out like cell 0 of
  * [[PqEncodeCell]]'s, and it shares that kernel's subspace distance loop.
  * A vector shorter than m·dsub fails loudly.
  */
case class PqDtab(child: Expression, cen: Array[Double], cc: Array[Double],
    m: Int, k: Int, dsub: Int) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.pqDtab(v.asInstanceOf[ArrayData], cen, cc, m, k, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cenRef = ctx.addReferenceObj("dtabCen", cen, "double[]")
    val ccRef = ctx.addReferenceObj("dtabCc", cc, "double[]")
    defineCodeGen(ctx, ev, e => s"${KernelLoops.javaName}.pqDtab($e, $cenRef, $ccRef, $m, $k, $dsub)")
  }
}

/** The ADC lookup-sum Σₘ dtab[m][codes[m]] — the per-candidate scan kernel
  * of every PQ search. Replaces the composed chain of M
  * `element_at(element_at(dtab, m+1), element_at(codes, m+1) + 1)` adds
  * (3·M element_at evaluations, each re-deriving null/boundary checks) with
  * one loop over the codes array. Long additions in the same order →
  * identical values; codes are always in [0, K) by construction
  * ([[PqEncodeCell]] emits argmin indices), so the boundary behavior the
  * element_at chain had for invalid indices is unreachable.
  */
case class AdcSum(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    KernelLoops.adcSum(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (dt, cs) => s"${KernelLoops.javaName}.adcSum($dt, $cs)")
}

/** PQ code assignment fused into one pass: for each of `m` subspaces, the
  * argmin over `k` sub-centroids of |s|² − 2·s·c + |c|², with ties going to
  * the smaller code (strict-improvement scan in ascending k). The arithmetic
  * — per-term order included — is EXACTLY the composed
  * dot(s,s) − 2·dot(s,c) + cc form the oracle mirrors, so results are
  * bit-identical to the slice/array_min formulation this replaces; that
  * formulation built a ~128-sub-expression tree whose generated code fell
  * back to interpreted evaluation and allocated 3 arrays per (m,k) probe
  * (measured 5.2 s at sf0.1 → this expression: tight loops, no allocation
  * per probe).
  *
  * The codebook slab for the row is selected by the `cid` input — PER-CELL
  * codebooks (local/residual sub-codebooks — the refinement where each IVF
  * cell's PQ spans only that cell's local spread). `cen` is laid out
  * [((cid·M + m)·K + k)·Dsub + d]; `cc` is the per-(cid,m,k) |c|² constant
  * [(cid·M + m)·K + k], PRE-COMPUTED the way the literal form computed it
  * (left-to-right sum of squares). Cell 0 is the single-codebook layout
  * [(m·K + k)·Dsub + d] ([[VectorExpressions.pqEncode]]). Left child is the
  * (residual) vector, right child the cell id. A vector shorter than m·dsub
  * fails loudly.
  */
case class PqEncodeCell(left: Expression, right: Expression,
    cen: Array[Double], cc: Array[Double], m: Int, k: Int, dsub: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // Pin the cid input to IntegerType: codegen's widening arithmetic would
  // accept a LongType cid that the interpreted path's asInstanceOf[Int]
  // rejects at runtime — analysis-time failure keeps both paths honest.
  // (AbstractDataType is private[sql], so this is the checkInputDataTypes
  // spelling of ExpectsInputTypes, like [[graft.operators.BloomJoin]].)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode_cell requires (array<double>, int), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)

  override protected def nullSafeEval(v: Any, cidv: Any): Any =
    KernelLoops.pqEncode(v.asInstanceOf[ArrayData], cidv.asInstanceOf[Int], cen, cc, m, k, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cenRef = ctx.addReferenceObj("pqcCen", cen, "double[]")
    val ccRef = ctx.addReferenceObj("pqcCc", cc, "double[]")
    defineCodeGen(ctx, ev, (e, cid) =>
      s"${KernelLoops.javaName}.pqEncode($e, $cid, $cenRef, $ccRef, $m, $k, $dsub)")
  }
}

/** All character 4-grams of a string packed injectively into longs
  * (codepoint base-256 for ASCII text): ((c0·256+c1)·256+c2)·256+c3.
  * Replaces substring+md5 per gram (2M md5 calls at sf0.1 — the measured
  * ngram-query hotspot) with one linear scan.
  *
  * Characters above 255 are clamped to the sentinel 255 (and the DuckDB
  * oracle clamps identically via `least(ord(..), 255)`), so the packing is
  * injective on ASCII/Latin-1 and merely coarser — never divergent between
  * engines — beyond it. (Astral-plane codepoints still differ in LENGTH
  * between UTF-16 code units and codepoints; the documents corpus is ASCII.)
  * CodegenFallback: the per-row loop dominates; fallback boxing is noise.
  */
case class PackedGrams4(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(KernelLoops.packedGrams4(v.toString))
}

/** [[PackedGrams4]] sorted, distinct, and re-encoded as order-preserving
  * INTs in one pass — the ngram dedup family's shuffle payload. The packed
  * code is 4 clamped bytes, so it always fits 32 bits; XOR-ing the sign
  * bit maps [0, 2^32) onto Int order-preservingly (v1 < v2 ⟺ w1 < w2
  * signed), so every downstream merge walk, prefix order and jaccard count
  * is IDENTICAL to the long form — but the arrays crossing the salted
  * pair-generation shuffle (S× per doc) are exactly half the bytes, and
  * the in-block walks compare ints. Sort+dedup run here on the primitive
  * array (Arrays.sort + linear squeeze) instead of the boxing
  * array_sort(array_distinct(...)) pair. Plain-Scala twin pinned against
  * the long form in PropertySpec.
  */
case class SortedGramInts(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(KernelLoops.sortedGramInts(v.toString))
}

/** Jaccard similarity of two SORTED, DISTINCT array<long> columns via a
  * zero-allocation merge walk: |∩| by two pointers, |∪| = n1+n2-|∩|.
  * The builtin array_intersect/array_union pair builds two hash sets per
  * row pair — measured 8× slower on the sf0.1 all-pairs n-gram query.
  */
case class SortedJaccard(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    KernelLoops.sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${KernelLoops.javaName}.sortedJaccard($a, $b)")
}

/** Dot product of two array<double> columns (element-null-free arrays). */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    KernelLoops.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${KernelLoops.javaName}.dot($a, $b)")
}

/** MinHash signature: K permutation minima over an array<long> of shingle
  * hashes (already reduced mod P), one fused pass — replaces K interpreted
  * transform+array_min HOF chains.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.minhashSig(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = ${KernelLoops.javaName}.minhashSig($in); ${ev.isNull} = ${ev.value} == null;")
}

/** 60-bit SimHash over an array<long> of token hashes (multiset: repeats
  * vote repeatedly), single fused pass.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)

  override protected def nullSafeEval(v: Any): Any =
    KernelLoops.simhash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, in => s"${KernelLoops.javaName}.simhash64($in)")
}
