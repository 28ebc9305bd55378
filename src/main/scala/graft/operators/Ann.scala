package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.io.Tables

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY.md §2 C6/C7).
  *
  * Brute-force top-k is the correctness baseline; random-hyperplane LSH
  * bucketing is the scale path (candidates only within a bucket).
  * All vector math is the codegen [[graft.functions.DotProduct]] over the
  * array column — a sequential left-to-right double sum, so the DuckDB
  * oracle (list_dot_product, same order) reproduces it bit-for-bit (and
  * results are additionally rounded to 4dp before ranking).
  */
object Ann {

  /** Embeddings cast to double with precomputed L2 norm (narrow). */
  def normed(spark: SparkSession, dir: String): DataFrame =
    normedOf(Tables.embeddings(spark, dir))

  /** [[normed]] over any embeddings-shaped frame (vec_id, embedding
    * [, label]) — how [[AnnIndex.buildOn]]/[[AnnIndex.append]] accept
    * corpora and ingest batches that aren't the dir's table. A missing
    * label column becomes null so every downstream layout keeps one
    * schema.
    */
  def normedOf(raw: DataFrame): DataFrame = {
    val withLabel =
      if (raw.columns.contains("label")) raw
      else raw.withColumn("label", lit(null).cast("int"))
    withLabel.select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("e"))
      .withColumn("nrm", sqrt(VectorExpressions.dot(col("e"), col("e"))))
  }

  /** Cosine similarity from precomputed norms. The dot product is a native
    * codegen expression ([[graft.functions.DotProduct]]) — the HOF
    * `aggregate(zip_with(...))` form is interpreted per element and measured
    * 10× slower on the sf0.1 all-pairs query.
    */
  def cosine(e1: Column, e2: Column, n1: Column, n2: Column): Column =
    VectorExpressions.dot(e1, e2) / (n1 * n2)

  /** C6 — brute-force top-k cosine for a query set (vec_id < nQueries).
    * The query side is broadcast; the corpus never shuffles. Ranking uses
    * the 4dp-rounded score with vec_id tiebreak → deterministic across
    * engines and runs.
    */
  def bruteForceTopK(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val v = normed(spark, dir)
    val q = broadcast(v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn")))
    val scored = q.join(v, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("e"), col("qn"), col("nrm")), 4).as("cos4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos4"))
  }

  /** C6b — FILTERED exact top-k cosine: the metadata-constrained search
    * every production vector store serves (tenant / category / license
    * restriction — here `label`, the one metadata column the embeddings
    * table carries). The predicate is applied BEFORE scoring (pre-filter:
    * exact within the allowed subset) rather than after an unfiltered ANN
    * pass (post-filter: k shrinks unpredictably when the filter is
    * selective — the classic vector-DB recall trap; documented here as the
    * design decision, and the reason this operator exists next to C6).
    *
    * Plan shape: the label equality turns C6's theta join (broadcast
    * nested loop — every query × every vector) into a broadcast HASH join
    * on `label`, so each corpus vector is scored against only its label's
    * queries — the relational analogue of routing the search to one
    * tenant's partition. The corpus never shuffles; ranking stays the
    * 4dp-rounded deterministic order.
    */
  def filteredTopK(spark: SparkSession, dir: String, nQueries: Int = 20,
      k: Int = 5): DataFrame = {
    val v = normed(spark, dir)
    val q = broadcast(v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("e").as("qe"), col("nrm").as("qn")))
    val scored = q.join(v, col("qlabel") === col("label")
        && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        round(cosine(col("qe"), col("e"), col("qn"), col("nrm")), 4).as("cos4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("label"),
        col("cos4"))
  }

  /** Deterministic pseudo-random hyperplane component for plane p, dim d.
    * Value in [-0.5, 0.5); pure integer arithmetic so it is reproducible
    * anywhere.
    */
  private def planeComponent(p: Int, d: Int): Double =
    (((p * 64 + d) * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5

  /** C7 — multi-table random-hyperplane LSH buckets. Each of nTables tables
    * hashes the vector with its own nPlanes sign bits; a vector lands in one
    * bucket per table (long format: vec_id, table, bucket). Narrow, no
    * shuffle. Multiple tables are what make LSH usable: recall for a pair at
    * angle θ is 1-(1-p^k)^L with p = 1-θ/π — a single table (L=1) collapses
    * on anything not near-identical (measured 1% recall@5 on this data;
    * k=4, L=8 measures ~0.8 even on near-uniform vectors, and →1.0 on real
    * clustered embeddings where near-dup cosines are ≥0.9).
    */
  /** The flat [(table·nPlanes + plane)·64 + d] plane-constant matrix the
    * fused bucket kernels embed — the same [[planeComponent]] values the
    * old composed per-table struct forest inlined as 32 separate 64-double
    * literals (which planned + codegen'd ~50 KB of plan text per run, on
    * BOTH sides of the bucket join). [[graft.functions.LshTableBuckets]] /
    * [[graft.functions.MultiProbeBuckets]] bake the same constants into
    * one kernel each with bit-identical dot order — property-tested
    * against the composed forms rebuilt verbatim, oracle re-verified.
    */
  private[graft] def planesArray(nPlanes: Int = 4, nTables: Int = 8): Array[Double] =
    Array.tabulate(nPlanes * nTables * 64)(i => planeComponent(i / 64, i % 64))

  /** All nTables bucket codes for a vector column as ONE fused kernel
    * (array<long>, table-ordinal order) — the same plane constants whether
    * the vector is a corpus row or an external query batch (how
    * [[AnnIndex]] buckets incoming queries). posexplode over it yields the
    * (tbl, bucket) rows value-identical to the old
    * explode(array(struct(lit(t), bucket)…)) form: the ordinal IS the
    * table id.
    */
  private[operators] def tableBucketsCol(e: Column, nPlanes: Int = 4,
      nTables: Int = 8): Column =
    VectorExpressions.lshTableBuckets(e, planesArray(nPlanes, nTables), nPlanes, nTables)

  def lshBuckets(spark: SparkSession, dir: String, nPlanes: Int = 4, nTables: Int = 8): DataFrame =
    lshBucketsOf(normed(spark, dir), nPlanes, nTables)

  /** [[lshBuckets]] over a pre-[[normedOf]]'d frame — the same plane
    * constants for the dir corpus, a [[AnnIndex.buildOn]] corpus, or an
    * [[AnnIndex.append]] ingest batch. A row whose `e` is null yields NO
    * bucket rows: the kernel returns a null array and `posexplode` emits
    * nothing for it, so the vector is absent from every bucket join, with
    * no error and no count.
    */
  def lshBucketsOf(v: DataFrame, nPlanes: Int = 4, nTables: Int = 8): DataFrame =
    v.select(col("vec_id"), col("label"),
      posexplode(tableBucketsCol(col("e"), nPlanes, nTables)))
      .toDF("vec_id", "label", "tbl", "bucket")

  /** C7 query — bucketed ANN: candidates = corpus vectors sharing any LSH
    * table bucket with the query, then exact re-rank top-k. The bucket join
    * shuffles only (vec_id, table, bucket) tuples; vectors join in once per
    * *distinct* candidate. This is the 100 TB path where brute force is
    * impossible. Recall vs [[bruteForceTopK]] is spec-tested; rows-only for
    * the oracle (approximate by nature).
    */
  def lshTopK(spark: SparkSession, dir: String, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val b = lshBuckets(spark, dir)
    val qb = broadcast(b.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket")))
    val cand = qb.join(b, Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val v = normed(spark, dir)
    val q = broadcast(v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn")))
    val scored = cand
      .join(v, "vec_id")
      .join(q, "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("e"), col("qn"), col("nrm")), 4).as("cos4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos4"))
  }

  /** C7g — MULTI-PROBE LSH [Lv et al., VLDB'07]: instead of paying recall
    * with more tables (more corpus storage + bucket rows), each QUERY also
    * probes the neighboring buckets most likely to hold its misses — the
    * buckets reached by flipping the sign bits whose hyperplane margin
    * |dot| is smallest. Per table the probe set is {base, flip b₁,
    * flip b₂, flip b₁b₂} (b₁/b₂ = the two lowest-margin planes), a 4×
    * query-side fan-out at UNCHANGED corpus layout — the 100 TB economics
    * multi-probe exists for: the corpus bucket table (data-scale) is
    * byte-identical to C7's, only the ~20-row broadcast probe list grows.
    *
    * Everything stays oracle-checkable: dots are the same sequential
    * DotProduct both engines compute bit-identically, the margin ranking
    * breaks ties by plane index, and bucket arithmetic is integer XOR —
    * the DuckDB oracle re-derives probes → candidates → re-rank exactly.
    */
  /** The per-table probe list {base, flip b₁, flip b₂, flip b₁b₂} as ONE
    * fused kernel (4·nTables (tbl, bucket) structs, table order). Replaces
    * the composed planeDotCols + multiProbeStructs forest — nTables·nPlanes
    * materialized dot columns (each against its own 64-double literal) plus
    * a per-table array_sort over (|dot|, j) structs. Same dot order, same
    * sign test, same lexicographic (|dot|, j) minima selection (ties to the
    * lower plane index) — property-tested against the composed forms
    * rebuilt verbatim, oracle re-verified. A null vector gives a null
    * array, so `explode` emits no probe rows for that query: it finds no
    * candidates and drops out of the result, with no error and no count.
    */
  private[operators] def multiProbesCol(e: Column, nPlanes: Int = 4,
      nTables: Int = 8): Column =
    VectorExpressions.multiProbeBuckets(e, planesArray(nPlanes, nTables), nPlanes, nTables)

  def lshMultiProbeTopK(spark: SparkSession, dir: String, nQueries: Int = 20,
      k: Int = 5, nPlanes: Int = 4, nTables: Int = 8): DataFrame = {
    val v = normed(spark, dir)
    val b = lshBucketsOf(v, nPlanes, nTables) // corpus: ONE bucket per table
    val qb = broadcast(v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        explode(multiProbesCol(col("e"), nPlanes, nTables)).as("tb"))
      .select(col("query_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket")))
    val cand = qb.join(b, Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val q = broadcast(v.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn")))
    val scored = cand
      .join(v, "vec_id")
      .join(q, "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("e"), col("qn"), col("nrm")), 4).as("cos4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cos4"))
  }
}
