package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Streaming twin of [[graft.operators.Dedup.minhashIncremental]]: newly
  * ingested documents arrive as a STREAM and probe a STATIC corpus LSH
  * index — the stream-static join, the third join kind in the family
  * (D6 covers stream-stream, the batch operators static-static).
  *
  * The operator's only join partners are the two static index frames (the
  * persisted band index + shingle sets the batch pipeline maintains), so
  * it holds NO join state: each micro-batch derives its documents' bands
  * with their shingle set carried on every band row, probes the band
  * index, and verifies the candidates against the corpus shingle sets —
  * everything a pair needs is in the micro-batch that produced it. No
  * watermark is needed because nothing waits on either side. The one
  * stateful operator is the final pair `dropDuplicates`, whose state holds
  * exactly one key per EMITTED pair (output-scale, not ingest-scale).
  *
  * Every per-document derivation (tokenize → shingle-hash → signature →
  * band keys) is narrow, so the batch kernels run UNCHANGED on the stream
  * ([[Dedup.shingleHashedOf]]/[[Dedup.bandsOf]] are shared, and the spec
  * pins stream output == batch [[Dedup.minhashIncremental]]).
  */
object DedupStream {

  /** The persisted index a deployment maintains: (bands, shingle sets) of
    * the corpus partition. Materialize these once per index build — the
    * stream probes them as static tables.
    */
  def corpusIndex(corpusDocs: DataFrame): (DataFrame, DataFrame) = {
    val sh = Dedup.shingleHashedOf(corpusDocs)
    (Dedup.bandsOf(sh), sh)
  }

  /** Probe the static index with a stream of new documents; emit verified
    * near-dup pairs (new_id, corpus_id, jac) in Append mode. `newDocs` is
    * a streaming frame of (doc_id, text); both index frames are static.
    *
    * A pair colliding in several bands verifies once per band inside its
    * micro-batch; the closing `dropDuplicates` collapses those copies and
    * suppresses a re-delivered document's pairs, giving exactly-once pair
    * emission across micro-batches (spec-pinned). A deployment that
    * tolerates occasional re-emission caps even that state with
    * `dropDuplicatesWithinWatermark` on an ingest-time column.
    */
  def incremental(newDocs: DataFrame, idxBands: DataFrame, corpusSh: DataFrame,
      threshold: Double = 0.5): DataFrame =
    Dedup.bandsOf(Dedup.shingleHashedOf(newDocs), col("h0").as("hn")).as("y")
      .join(idxBands.as("x"),
        col("x.bid") === col("y.bid") && col("x.bkey") === col("y.bkey"))
      .select(col("y.doc_id").as("new_id"), col("x.doc_id").as("corpus_id"), col("y.hn"))
      .join(corpusSh.select(col("doc_id").as("corpus_id"), col("h0").as("hc")),
        "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        round(graft.functions.TextHash.jaccard(col("hc"), col("hn")), 6).as("jac"))
      .where(col("jac") >= threshold)
      .dropDuplicates("new_id", "corpus_id")
}
