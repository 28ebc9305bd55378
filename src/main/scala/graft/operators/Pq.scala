package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Product-quantization ANN (SURVEY.md §2 C7c) — the memory-bound scale
  * path alongside IVF: each 64-dim vector is encoded as M=8 sub-codes of
  * K=16 centroids (one byte each), and search scans CODES, not vectors —
  * at 100 TB the code table is 64× smaller than the corpus and the scan is
  * table lookups (ADC) instead of dot products. [Jégou et al., "Product
  * Quantization for Nearest Neighbor Search"].
  *
  * Determinism: the codebook is seeded from the first K vectors' subvectors
  * (zero FP accumulation — the same construction as [[Ivf]] iters=0), and
  * ADC distances are floor-scaled to integers BEFORE summing, so the score
  * is a sum of longs (order-independent) and the whole pipeline — encode,
  * distance table, ranking — hash-matches the DuckDB oracle exactly.
  */
object Pq {
  val M = 8     // subspaces
  val Ksub = 16 // codes per subspace
  val Dsub = 8  // dims per subspace

  /** Squared distance of e's m-th subvector to a constant sub-centroid,
    * expanded as |s|² − 2·s·c + |c|² (matches the oracle's arithmetic
    * term-for-term, so the doubles are bit-identical).
    */
  private[operators] def subSqDist(e: Column, m: Int, c: Seq[Double]): Column = {
    val sub = slice(e, m * Dsub + 1, Dsub)
    VectorExpressions.dot(sub, sub) -
      lit(2.0) * VectorExpressions.dot(sub, typedlit(c)) +
      lit(c.map(x => x * x).sum)
  }

  /** Codebook cen(m)(k) = subvector m of seed vector k — a driver-side
    * model artifact of M×K×Dsub doubles; the corpus never leaves executors.
    */
  def codebook(spark: SparkSession, dir: String): IndexedSeq[IndexedSeq[Seq[Double]]] =
    codebookOf(Ann.normed(spark, dir))

  /** [[codebook]] over a pre-[[Ann.normedOf]]'d frame (must contain seed
    * vec_ids 0..Ksub−1).
    */
  def codebookOf(normed: DataFrame): IndexedSeq[IndexedSeq[Seq[Double]]] = {
    val seeds = normed.select(col("vec_id"), col("e"))
      .where(col("vec_id") < Ksub).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1))
    require(seeds.length == Ksub,
      s"PQ codebook needs seed vec_ids 0..${Ksub - 1} in the corpus frame; " +
        s"found ${seeds.length} of $Ksub")
    (0 until M).map(m => seeds.toIndexedSeq.map(_.slice(m * Dsub, (m + 1) * Dsub)))
  }

  /** Lloyd-refine the sub-codebooks: assign every subvector to its nearest
    * sub-centroid (one fused [[graft.functions.PqEncodeCell]] pass over the
    * corpus — all 8 subspaces at once), then per-(subspace, code) per-dim
    * means become the new centroids (one shuffle keyed (m, code); the
    * updated codebook is M×K×Dsub doubles collected like [[Ivf.train]]'s).
    * Empty cells keep their previous centroid. Same caveat as IVF: the
    * refined centroids are FP-accumulation-order-sensitive, so the
    * oracle-checked query uses iters=0 and refinement is recall-spec'd.
    */
  private[operators] def refine(spark: SparkSession, dir: String,
      iters: Int): IndexedSeq[IndexedSeq[Seq[Double]]] =
    refineOn(Ann.normed(spark, dir), iters)

  /** [[refine]] over a pre-[[Ann.normedOf]]'d frame. */
  def refineOn(normed: DataFrame, iters: Int): IndexedSeq[IndexedSeq[Seq[Double]]] = {
    val v = normed.select(col("vec_id"), col("e"))
    var cen = codebookOf(normed)
    for (_ <- 1 to iters) {
      val coded = v.select(col("e"), codesCol(col("e"), cen).as("codes"))
        .select(col("e"), posexplode(col("codes")).as(Seq("m", "code")))
      val updated = coded.groupBy(col("m"), col("code"))
        .agg(array((0 until Dsub).map(d =>
          avg(element_at(col("e"), col("m") * Dsub + d + 1))): _*).as("cen"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      cen = (0 until M).map(m => (0 until Ksub).map(k =>
        updated.getOrElse((m, k), cen(m)(k))))
    }
    cen
  }

  /** Per-row code array: codes(m) = argmin over k of subSqDist (ties → the
    * smaller k). Fused native expression ([[VectorExpressions.pqEncode]]);
    * the composed slice/array_min form exceeded codegen limits and ran
    * interpreted.
    */
  private[operators] def codesCol(e: Column, cen: IndexedSeq[IndexedSeq[Seq[Double]]]): Column = {
    val (cenFlat, ccFlat) = flatCodebook(cen)
    VectorExpressions.pqEncode(e, cenFlat, ccFlat, M, Ksub, Dsub)
  }

  /** Flat [(m·K + k)·Dsub + d] centroid matrix + per-(m,k) |c|² constants —
    * |c|² exactly as the literal form computed it (left-to-right Σx²).
    */
  private def flatCodebook(cen: IndexedSeq[IndexedSeq[Seq[Double]]]): (Array[Double], Array[Double]) = {
    val cenFlat = (for { m <- 0 until M; k <- 0 until Ksub; d <- 0 until Dsub }
      yield cen(m)(k)(d)).toArray
    val ccFlat = (for { m <- 0 until M; k <- 0 until Ksub }
      yield cen(m)(k).map(x => x * x).sum).toArray
    (cenFlat, ccFlat)
  }

  /** Query-side M×K scaled ADC table as ONE fused kernel
    * ([[graft.functions.PqDtab]]) — bit-identical to the composed
    * `array(array(floor(subSqDist(e,m,c)·10⁶)...))` forest it replaces
    * (same per-term FP order; [[subSqDist]] stays as the documented
    * reference arithmetic).
    */
  private[operators] def dtabCol(e: Column, cen: IndexedSeq[IndexedSeq[Seq[Double]]]): Column = {
    val (cenFlat, ccFlat) = flatCodebook(cen)
    VectorExpressions.pqDtab(e, cenFlat, ccFlat, M, Ksub, Dsub)
  }

  /** Top-k by asymmetric-distance (ADC): queries precompute an M×K table of
    * floor(10⁶·subdist) longs; each corpus row's approximate distance is 8
    * table lookups summed — no vector arithmetic in the scan loop.
    */
  def topK(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 5,
      iters: Int = 0): DataFrame = {
    val cen = if (iters == 0) codebook(spark, dir) else refine(spark, dir, iters)
    val v = Ann.normed(spark, dir)
    val corpus = v.select(col("vec_id"), codesCol(col("e"), cen).as("codes"))
    val queries = v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    searchCodes(corpus, cen, queries, k)
  }

  /** ADC search over a built (vec_id, codes) table for ANY (query_id, qe)
    * batch — the serving half of the PQ layout behind [[AnnIndex]]. The
    * query batch broadcasts as its M×K integer distance tables; the codes
    * table is scanned once per batch, never the vectors. `excludeSelf`
    * filters `neighbor_id == query_id` hits — correct for corpus-row
    * batches, but MUST be false for external batches whose ids may
    * coincide with corpus vec_ids.
    */
  private[operators] def searchCodes(codes: DataFrame,
      cen: IndexedSeq[IndexedSeq[Seq[Double]]], queries: DataFrame,
      k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col("query_id"), col("qe"))
      .select(col("query_id"), dtabCol(col("qe"), cen).as("dtab")))
    val adc = VectorExpressions.adcSum(col("dtab"), col("codes"))
    val scored = q.join(codes,
        if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adc.as("adc_scaled"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_scaled").asc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_scaled"))
  }
}
