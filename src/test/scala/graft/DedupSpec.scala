package graft

import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.{Ann, Dedup}

class DedupSpec extends GraftSuite {

  test("ngramJaccard prefix-index path is lossless vs the all-pairs path") {
    import spark.implicits._
    // maxAllPairsBlock=0 forces every block through the rarity-ordered
    // prefix-filter inverted index; the default keeps all-pairs locally.
    // Identical output = the AllPairs prefix lemma holds end-to-end.
    val allPairs = Dedup.ngramJaccard(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.ngramJaccard(spark, sf, maxAllPairsBlock = 0)
      .as[(Long, Long, Double)].collect().toSet
    assert(prefix == allPairs)
    assert(allPairs.nonEmpty)
  }

  test("ngramJaccard bitset path matches the merge-walk path exactly") {
    import spark.implicits._
    // This corpus saturates every block's gram universe (~980 distinct
    // grams ≪ 16× the mean gram count), so the default run takes the
    // block-local bitset intersection; maxBitsetUniverse=0 forces the
    // thresholded merge walk. Set equality (ids AND the 6-dp jaccard)
    // pins that popcount(AND) reproduces the walk's intersection count.
    val bitset = Dedup.ngramJaccard(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    val walk = Dedup.ngramJaccard(spark, sf, maxBitsetUniverse = 0)
      .as[(Long, Long, Double)].collect().toSet
    assert(bitset == walk)
    assert(bitset.nonEmpty)
  }

  test("ngramTopK caps output at k per doc and keeps each doc's best matches") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccard(spark, sf).as[(Long, Long, Double)].collect()
    val topk = Dedup.ngramTopK(spark, sf, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // every surviving row IS a qualifying pair (no invented neighbors)
    val pairSet = pairs.flatMap(p => Seq((p._1, p._2, p._3), (p._2, p._1, p._3))).toSet
    assert(topk.forall { case (d, _, n, j) => pairSet((d, n, j)) })
    // ≤ k rows per doc, ranks contiguous from 1
    val byDoc = topk.groupBy(_._1)
    assert(byDoc.values.forall(rs => rs.length <= 3 &&
      rs.map(_._2).sorted.sameElements(1 to rs.length)))
    // every doc touched by any qualifying pair keeps its best match, and
    // rank 1 carries the doc's maximum jaccard
    val docs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(byDoc.keySet == docs)
    val bestOf = pairs.flatMap(p => Seq((p._1, p._3), (p._2, p._3)))
      .groupBy(_._1).map { case (d, js) => d -> js.map(_._2).max }
    assert(topk.collect { case (d, 1, _, j) => j == bestOf(d) }.forall(identity))
  }

  test("ngramSalt honors both the parallelism and the block-size budget") {
    // sf0.1 shape (25 buckets, max pop 292, 32 cores): the parallelism
    // term alone decides — block budget already satisfied, S unchanged
    // from the measured r7 tuning.
    val s01 = Dedup.ngramSalt(25, 292, 32, 4096)
    assert(s01 == (1 to 8).find(s => 25L * s * (s + 1) / 2 >= 16L * 32).get)
    // sf3 shape at local[4] — the round-9 straggler: parallelism alone
    // gave S=2 → 6868-doc groups → prefix path. The block budget must
    // push S up until cross-band groups fit all-pairs.
    val s3 = Dedup.ngramSalt(25, 6868, 4, 4096)
    assert(2.0 * 6868 / s3 <= 0.9 * 4096, s"S=$s3 leaves giant groups")
    // sf10 shape (max pop ~23k, 32 cores): needs S in the extended range
    // (the parallelism cap of 8 is not enough) but within the cap of 16.
    val s10 = Dedup.ngramSalt(25, 23000, 32, 4096)
    assert(s10 <= 16 && 2.0 * 23000 / s10 <= 0.9 * 4096)
    // beyond the 16-band cap (~33k+ docs per bucket) the budget is
    // unattainable: fall back to the parallelism S — those groups take
    // the prefix path by design.
    val sHuge = Dedup.ngramSalt(25, 100000, 32, 4096)
    assert(sHuge == s01)
    // forcing the prefix path (maxAllPairsBlock=0, the lossless spec
    // above) must not blow up the derivation.
    assert(Dedup.ngramSalt(25, 292, 32, 0) == s01)
  }

  test("embeddingNearDup equals brute-force within-cell pair generation") {
    import spark.implicits._
    val v = Ann.normed(spark, sf)
      .select(col("vec_id"), col("e"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    // same corpus-derived cell count as the operator (~250-vector cells)
    val nc = math.min(65536, math.max(16, v.length / 250))
    val cen = v.filter(_._1 < nc).map(_._2)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def cid(e: Array[Double]): Int =
      (0 until nc).minBy(c => (dot(e, e) - 2 * dot(e, cen(c)) + cen(c).map(x => x * x).sum, c))
    val expected = v.groupBy { case (_, e, _) => cid(e) }.values.flatMap { vs =>
      val sorted = vs.sortBy(_._1)
      for {
        i <- sorted.indices
        j <- i + 1 until sorted.length
        cos4 = BigDecimal(dot(sorted(i)._2, sorted(j)._2) / (sorted(i)._3 * sorted(j)._3))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if cos4 >= 0.4
      } yield (sorted(i)._1, sorted(j)._1, cos4)
    }.toSet
    val got = Dedup.embeddingNearDup(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected)
    // pair generation is genuinely blocked: at least two distinct cells exist
    assert(v.map(t => cid(t._2)).distinct.length > 1)
  }

  test("hash60 matches the md5-derived reference value") {
    // first 15 hex chars of md5('hello') = 5d41402abc4b2a7, base 16
    val v = spark.range(1).select(TextHash.hash60(lit("hello"))).head.getLong(0)
    assert(v == 419982666956583591L)
  }

  test("fused shingle-hash equals the declarative shingles3+hash60 formulation") {
    import spark.implicits._
    val toksDf = io.Tables.documents(spark, sf)
      .select(col("doc_id"), TextHash.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
    val declarative = toksDf
      .select(col("doc_id"), TextHash.shingleHashes(TextHash.shingles3(col("toks"))).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    val fused = toksDf
      .select(col("doc_id"),
        graft.functions.VectorExpressions.shingleHashN(col("toks"), 3, TextHash.P, distinct = true).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused == declarative, "same hashes in same first-occurrence order")
  }

  test("minhash LSH finds exactly the brute-force jaccard pairs") {
    import spark.implicits._
    val docs = io.Tables.documents(spark, sf)
      .select(col("doc_id"), TextHash.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), TextHash.shingles3(col("toks")).as("sh"))
    val bf = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        round(TextHash.jaccard(col("a.sh"), col("b.sh")), 6).as("jac"))
      .where(col("jac") >= 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(lsh == bf)
  }

  test("containment finds subset duplicates symmetric LSH misses (adversarial corpus)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 20 small docs (60 unique words each) embedded verbatim inside a 10×
    // larger doc: J ≈ 0.1 (a 2-minhash band fires w.p. ≈ J² — symmetric
    // bands alone recall ~15% of these), C(small→big) = 1.0. Vocab is
    // unique per pair so cross-pair shingle sharing is zero.
    val docs = (0 until 20).flatMap { i =>
      val small = (0 until 60).map(j => s"p${i}w$j").mkString(" ")
      val pad1 = (0 until 270).map(j => s"p${i}a$j").mkString(" ")
      val pad2 = (0 until 270).map(j => s"p${i}b$j").mkString(" ")
      val big = s"$pad1 $small $pad2"
      Seq((i.toLong * 2, small, "en", "web", small.length.toLong),
        (i.toLong * 2 + 1, big, "en", "web", big.length.toLong))
    } ++ (0 until 10).map { i =>
      val noise = (0 until 300).map(j => s"n${i}x$j ${rnd.nextInt(9)}").mkString(" ")
      (1000L + i, noise, "en", "web", noise.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-cont").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.containment(spark, dir, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 20).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    val recall = (got & expected).size.toDouble / expected.size
    assert(recall >= 0.9, s"containment recall $recall; found=${got.size} pairs")
    assert(got.forall { case (a, b) => expected.contains((a, b)) },
      s"false positives across unrelated vocabularies: ${got -- expected}")
  }

  test("paragraphDedup: first corpus-wide occurrence keeps the span (constructed dups)") {
    import spark.implicits._
    // doc 0 and doc 2 share their FIRST 20-word span verbatim (doc 0 wins
    // by doc_id); doc 1 is 25 words (tests the short tail span); doc 3
    // repeats doc 0's span INTERNALLY at span index 1 (same-doc dup)
    val para = (0 until 20).map(j => s"shared$j").mkString(" ")
    val docs = Seq(
      (0L, para + " " + (0 until 20).map(j => s"a$j").mkString(" ")),
      (1L, (0 until 25).map(j => s"b$j").mkString(" ")),
      (2L, para + " " + (0 until 20).map(j => s"c$j").mkString(" ")),
      (3L, (0 until 20).map(j => s"d$j").mkString(" ") + " " + para))
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft-para").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.paragraphDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getBoolean(4))).toMap
    // brute force: group spans by text, keep min (doc_id, idx)
    val spans = docs.flatMap { case (id, t, _, _, _) =>
      t.split(" ").grouped(20).zipWithIndex.map { case (wds, i) =>
        (id, i.toLong, wds.mkString(" ")) } }
    val byText = spans.groupBy(_._3)
    val expected = spans.map { case (id, i, txt) =>
      val g = byText(txt)
      (id, i) -> (g.size.toLong, g.minBy(s => (s._1, s._2)) == ((id, i, txt)))
    }.toMap
    assert(got == expected)
    // the shared span: 3 copies, only doc 0 span 0 kept
    assert(got((0L, 0L)) == (3L, true) && got((2L, 0L)) == (3L, false)
      && got((3L, 1L)) == (3L, false))
    // doc 1's 5-word tail span exists and is kept
    assert(got((1L, 1L)) == (1L, true))
  }

  test("simhash: near-dup pairs have small hamming distance vs random pairs") {
    import spark.implicits._
    val sig = Dedup.simhash(spark, sf)
    val near = Dedup.minhashLsh(spark, sf).select("d1", "d2")
    val ham = near
      .join(sig.select(col("doc_id").as("d1"), col("simhash").as("s1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("simhash").as("s2")), "d2")
      .select(bit_count(col("s1").bitwiseXOR(col("s2"))).as("h")).as[Int].collect()
    if (ham.nonEmpty) assert(ham.forall(_ <= 20), s"near-dup hamming too large: ${ham.mkString(",")}")
    // random-pair baseline: expected ~30 of 60 bits differ
    val ids = sig.select("doc_id", "simhash").as[(Long, Long)].collect()
    val randHam = ids.take(20).flatMap(a => ids.takeRight(20).filter(_._1 > a._1 + 5)
      .map(b => java.lang.Long.bitCount(a._2 ^ b._2)))
    assert(randHam.sum.toDouble / randHam.length > 15.0)
  }

  test("substringIntervals merges repeated windows into maximal removal spans") {
    import spark.implicits._
    // shared 12-word passage S at offset 5 in doc 0 and offset 0 in doc 1:
    // windows fully inside S repeat (positions 5..7 / 0..2), everything
    // else is unique → ONE merged interval of 12 words per doc
    val s12 = (0 until 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, (0 until 5).map(i => s"a$i").mkString(" ") + " " + s12 + " " +
        (0 until 5).map(i => s"b$i").mkString(" ")),
      (1L, s12 + " " + (0 until 8).map(i => s"c$i").mkString(" ")),
      // doc 2 repeats ITS OWN 10-word run back-to-back (Lee et al. counts
      // same-doc repeats): only windows 0 and 10 share a hash (interior
      // windows straddle the seam) → two non-adjacent 10-word intervals
      (2L, ((0 until 10).map(i => s"d$i") ++ (0 until 10).map(i => s"d$i"))
        .mkString(" ")),
      (3L, (0 until 30).map(i => s"u$i").mkString(" "))) // all unique → no rows
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft-substr").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.substringIntervals(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (0L, 5L, 16L, 12L),
      (1L, 0L, 11L, 12L),
      (2L, 0L, 9L, 10L),
      (2L, 10L, 19L, 10L)), s"got $got")
  }

  test("exact dedup keeps one id per content hash") {
    val d = Dedup.exact(spark, sf)
    assert(d.groupBy("content_hash").count().where(col("count") > 1).count() == 0)
  }

  test("lshBuckets assigns one bucket per table, in range, deterministically") {
    import spark.implicits._
    val b = Ann.lshBuckets(spark, sf, nPlanes = 4, nTables = 8)
      .select("vec_id", "tbl", "bucket").as[(Long, Int, Long)].collect()
    val n = operators.Ann.normed(spark, sf).count()
    assert(b.length == n * 8, "every vector lands in exactly one bucket per table")
    assert(b.map(t => (t._1, t._2)).distinct.length == b.length)
    assert(b.forall(t => t._2 >= 0 && t._2 < 8 && t._3 >= 0 && t._3 < 16),
      "bucket ids are nPlanes sign bits")
    val again = Ann.lshBuckets(spark, sf, nPlanes = 4, nTables = 8)
      .select("vec_id", "tbl", "bucket").as[(Long, Int, Long)].collect()
    assert(b.sorted.toSeq == again.sorted.toSeq, "plane hashes carry no RNG state")
  }

  test("ann ivf recall vs brute force >= 0.5 probing 4/16 cells") {
    import spark.implicits._
    val bf = Ann.bruteForceTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val ivf = operators.Ivf.topK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.5, s"ivf recall $recall")
  }

  test("ann pq top-5 by ADC overlaps brute-force cosine top-5") {
    import spark.implicits._
    // PQ approximates EUCLIDEAN distance; on normalized-ish vectors the
    // top sets still overlap cosine's. Seed (untrained) codebook — the
    // bound is a floor, not a tuning target.
    val bf = Ann.bruteForceTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val pq = operators.Pq.topK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (bf & pq).size.toDouble / bf.size
    assert(recall >= 0.2, s"pq recall $recall")
    // Lloyd-refined sub-codebooks must not lose recall vs the raw seeds
    val pqR = operators.Pq.topK(spark, sf, iters = 2).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recallR = (bf & pqR).size.toDouble / bf.size
    assert(recallR >= recall - 0.05, s"refined $recallR vs seed $recall")
  }

  test("ann ivf-pq prunes the ADC scan to nprobe cells and keeps useful recall") {
    import spark.implicits._
    val bf = Ann.bruteForceTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val ivfpq = operators.IvfPq.topK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (bf & ivfpq).size.toDouble / bf.size
    // same codebook as PQ but only nprobe/C of the corpus scanned: recall
    // floor is what the pruning leaves of PQ's 0.2 floor on these vectors
    assert(recall >= 0.15, s"ivf-pq recall $recall")
    // residual variant (PQ over e − centroid(cell)): same pruning, finer
    // per-cell resolution. At this tiny sf cells are near-empty so it
    // measures 0.18 vs raw 0.25; at sf0.01 it crosses over (0.27 vs 0.24)
    // — seed codebooks everywhere, floors not tuning targets
    val res = operators.IvfPq.topKResidual(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recallRes = (bf & res).size.toDouble / bf.size
    assert(recallRes >= 0.15, s"residual ivf-pq recall $recallRes")
    // the pruning is real: candidates scored per query ≈ nprobe/C of the
    // corpus, vs the full-corpus ADC scan of plain PQ
    val n = Ann.normed(spark, sf).count()
    val nq = 20L
    val scanned = operators.IvfPq.topK(spark, sf, k = Int.MaxValue)
      .groupBy("query_id").count().agg(sum("count")).first().getLong(0)
    val full = nq * (n - 1) // what Pq.topK scores
    assert(scanned < full / 2,
      s"expected materially fewer scanned rows: $scanned vs full $full")
  }

  test("per-cell residual refinement keeps recall vs the global residual codebook") {
    import spark.implicits._
    val bf = Ann.bruteForceTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val base = operators.IvfPq.topKResidual(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val refined = operators.IvfPq.topKResidualRefined(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rBase = (bf & base).size.toDouble / bf.size
    val rRef = (bf & refined).size.toDouble / bf.size
    // Lloyd on per-cell residuals tightens quantization error; a small
    // epsilon absorbs rank churn on this tiny sf's near-empty cells
    assert(rRef >= rBase - 0.05, s"refined $rRef vs global-codebook $rBase")
    assert(rRef >= 0.15, s"refined recall floor: $rRef")
  }

  test("ann lsh recall vs brute force >= 0.4") {
    import spark.implicits._
    val bf = Ann.bruteForceTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("multi-probe LSH lifts recall >= 0.7 at UNCHANGED table count") {
    import spark.implicits._
    val bf = Ann.bruteForceTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val single = Ann.lshTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val multi = Ann.lshMultiProbeTopK(spark, sf).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val rSingle = (bf & single).size.toDouble / bf.size
    val rMulti = (bf & multi).size.toDouble / bf.size
    // measured 0.92 at sf0.001 / 0.87 at sf0.01 vs single-probe 0.59/0.58
    assert(rMulti >= 0.7, s"multi-probe recall $rMulti < 0.7")
    assert(rMulti > rSingle, s"multi-probe $rMulti must beat single-probe $rSingle")
    // the base bucket is in the probe set, so multi-probe's candidate pool
    // is a superset — its best hit per query can only improve
    def top1(df: org.apache.spark.sql.DataFrame) = df.where(col("rk") === 1)
      .select("query_id", "cos4").as[(Long, Double)].collect().toMap
    val (s1, m1) = (top1(Ann.lshTopK(spark, sf)), top1(Ann.lshMultiProbeTopK(spark, sf)))
    s1.foreach { case (q, c) =>
      assert(m1(q) >= c, s"query $q: multi-probe top-1 ${m1(q)} < single $c")
    }
  }

  test("multi-probe LSH rejects nPlanes < 2 loudly (no 1L << -1 garbage buckets)") {
    // the probe list flips the TWO lowest-margin planes: with one plane
    // the second index stays -1 and the shift would wrap silently
    val e = intercept[IllegalArgumentException] {
      Ann.lshMultiProbeTopK(spark, sf, nPlanes = 1)
    }
    assert(e.getMessage.contains("nPlanes"), e.getMessage)
  }

  test("minhashIncremental == full LSH restricted to batch×corpus pairs") {
    val full = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet // d1 < d2
    val inc = Dedup.minhashIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))) // (new_id, corpus_id)
    def isBatch(id: Long) = id % 5 == 4
    inc.foreach { case (n, c) =>
      assert(isBatch(n) && !isBatch(c), s"($n, $c) must be batch×corpus")
    }
    val incNorm = inc.map { case (n, c) => (math.min(n, c), math.max(n, c)) }.toSet
    val fullCross = full.filter { case (a, b) => isBatch(a) != isBatch(b) }
    assert(incNorm == fullCross,
      s"incremental probe must find exactly the cross pairs: $incNorm vs $fullCross")
  }

  /** Plain-Scala reference for [[Dedup.clusterPrune]]: seed centroids =
    * first 16 vec_ids, argmin with the kernel's arithmetic order (strict-<
    * ties to the lower cid), floor(dist·10⁶) ranking.
    */
  private def clusterPruneRef(keep: Int, farthest: Boolean): Set[(Long, Int, Long, Long)] = {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val cen = vecs.filter(_._1 < 16).map(_._2)
    val sumsq = cen.map(c => c.map(x => x * x).sum)
    val assigned = vecs.map { case (id, e) =>
      val ee = e.map(x => x * x).sum
      var best = Double.PositiveInfinity; var bestC = 0
      for (c <- cen.indices) {
        var dc = 0.0; var d = 0
        while (d < e.length) { dc += e(d) * cen(c)(d); d += 1 }
        val dist = ee - 2.0 * dc + sumsq(c)
        if (dist < best) { best = dist; bestC = c }
      }
      (id, bestC, math.floor(best * 1000000.0).toLong)
    }
    assigned.groupBy(_._2).iterator.flatMap { case (cid, m) =>
      val ordered =
        if (farthest) m.sortBy(t => (-t._3, t._1)) else m.sortBy(t => (t._3, t._1))
      ordered.take(keep).zipWithIndex.map { case ((id, _, d6), i) =>
        (cid.toLong, i + 1, id, d6)
      }
    }.toSet
  }

  test("clusterPrune == plain-Scala per-cell prototype top-k, both directions") {
    def got(farthest: Boolean) = Dedup.clusterPrune(spark, sf, keep = 3, farthest = farthest)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got(farthest = false) == clusterPruneRef(3, farthest = false))
    assert(got(farthest = true) == clusterPruneRef(3, farthest = true))
  }

  test("clusterPrune covers every non-empty cell with ranks 1..min(keep, cell size)") {
    val rows = Dedup.clusterPrune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cid, m) =>
      val sorted = m.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"cell $cid ranks")
      assert(sorted.length <= 10)
      // prototypicality ordering: dist6 nondecreasing with rank
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._4, s"cell $cid order")
        case _ =>
      }
    }
  }
}
