package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path alongside [[Ann.lshTopK]] (SURVEY.md §2 C7b).
  *
  * Build: C centroids seeded deterministically from the first C vectors,
  * refined with Lloyd iterations expressed as DataFrame jobs (assign =
  * broadcast argmin, update = 64 per-dimension avgs — one shuffle per
  * iteration keyed by centroid id). The centroid table (C×64 doubles) is a
  * model artifact small enough to collect and re-broadcast — the corpus
  * itself never leaves the executors.
  *
  * Search: each query probes its nprobe nearest centroids' inverted lists;
  * candidates = corpus rows in those cells (cell equi-join, no all-pairs).
  */
object Ivf {

  private[operators] def sqDist(e: Column, cen: Seq[Double]): Column = {
    val c = typedlit(cen)
    VectorExpressions.dot(e, e) - lit(2.0) * VectorExpressions.dot(e, c) +
      lit(cen.map(x => x * x).sum)
  }

  /** argmin over centroids — the `cid` field of the fused [[nearestCell]]
    * kernel (bit-identical arithmetic to the composed
    * `array_min(array(struct(sqDist, cid)...))` form, which allocated C
    * structs per row; corpus assign measured 2× faster fused at sf0.1).
    * Requires the conventional dense cid numbering 0..C−1.
    */
  private[operators] def nearestCid(e: Column, centroids: Seq[(Int, Seq[Double])]): Column =
    nearestCell(e, centroids).getField("cid")

  /** argmin AND its distance as struct(cid, dist) — the fused
    * [[VectorExpressions.nearestCell]] kernel, same arithmetic and
    * lowest-cid tie rule as [[nearestCid]], which reads its `cid`. For
    * consumers that need the prototypicality value too (e.g.
    * [[Dedup.clusterPrune]]), where argmin-then-rederive would double the
    * dot-product work.
    */
  private[operators] def nearestCell(e: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    require(sorted.map(_._1) == (0 until sorted.length), s"dense cids expected")
    val dim = sorted.head._2.length
    val flat = sorted.iterator.flatMap(_._2).toArray
    // same summation order as the lit(cen.map(x*x).sum) constant it replaces
    val sumsq = sorted.map(_._2.map(x => x * x).sum).toArray
    VectorExpressions.nearestCell(e, flat, sumsq, dim)
  }

  /** The nprobe nearest cell ids as one fused kernel
    * ([[VectorExpressions.nearestCells]]) — bit-identical order to the
    * composed `slice(array_sort(array(struct(sqDist, cid)...)), 1, nprobe)`
    * probe list it replaces (same per-term FP arithmetic, same
    * lexicographic (d, cid) tie rule; property-tested).
    */
  private[operators] def probeCids(e: Column, centroids: Seq[(Int, Seq[Double])],
      nprobe: Int): Column = {
    val sorted = centroids.sortBy(_._1)
    require(sorted.map(_._1) == (0 until sorted.length), s"dense cids expected")
    val dim = sorted.head._2.length
    val flat = sorted.iterator.flatMap(_._2).toArray
    val sumsq = sorted.map(_._2.map(x => x * x).sum).toArray
    VectorExpressions.nearestCells(e, flat, sumsq, dim, nprobe)
  }

  /** Train the coarse quantizer; returns (cid, centroid vector) pairs.
    * iters=0 keeps the raw seed vectors as the codebook — fully
    * deterministic (no FP accumulation), which is what the oracle-checked
    * query uses; refined codebooks (iters≥1) give better recall but their
    * centroids depend on partial-aggregation summation order.
    */
  def train(spark: SparkSession, dir: String, c: Int = 16, iters: Int = 2): Seq[(Int, Seq[Double])] =
    trainOn(Ann.normed(spark, dir), c, iters)

  /** [[train]] over a pre-[[Ann.normedOf]]'d corpus frame (what
    * [[AnnIndex.buildOn]] passes). Seeds come from vec_id 0..c−1, so the
    * frame must contain that id range.
    */
  def trainOn(normed: DataFrame, c: Int = 16, iters: Int = 2): Seq[(Int, Seq[Double])] = {
    // cache only pays when Lloyd iterations re-scan; iters=0 (the oracle
    // path) would cache for nothing. train() fully consumes the cache via
    // its collects, so it can (and must) unpersist before returning —
    // leaving the corpus pinned in the session CacheManager would degrade
    // every later job on a shared cluster.
    val base = normed.select(col("vec_id"), col("e"))
    val cached = iters > 0
    val v = if (cached) base.cache() else base
    try {
      var centroids: Seq[(Int, Seq[Double])] = v.where(col("vec_id") < c)
        .orderBy("vec_id").collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
      // loud on a frame missing the documented seed range — a short seed
      // set would otherwise train a silently-degenerate quantizer
      require(centroids.length == c,
        s"IVF training needs seed vec_ids 0..${c - 1} in the corpus frame; " +
          s"found ${centroids.length} of $c (AnnIndex.buildOn requires the " +
          "initial corpus to contain the seed id range)")
      for (_ <- 1 to iters) {
        val assigned = v.withColumn("cid", nearestCid(col("e"), centroids))
        val dims = 0 until centroids.head._2.length
        val updated = assigned.groupBy(col("cid"))
          .agg(array(dims.map(d => avg(col("e")(d))): _*).as("cen"))
          .collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq.sortBy(_._1)
        centroids = updated
      }
      centroids
    } finally if (cached) v.unpersist(blocking = false)
  }

  /** Top-k within the query's nprobe nearest cells. */
  def topK(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 5,
      c: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val centroids = train(spark, dir, c, iters)
    val v = Ann.normed(spark, dir)
      .withColumn("cid", nearestCid(col("e"), centroids))
    val q = broadcast(v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"),
        explode(probeCids(col("e"), centroids, nprobe)).as("cid")))
    val scored = q.join(v, Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Ann.cosine(col("qe"), col("e"), col("qn"), col("nrm")), 4).as("cos4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos4"))
  }
}
