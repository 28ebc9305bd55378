package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHash._
import graft.io.Tables

/** Deduplication family for large-scale corpus curation (SURVEY.md §2C).
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison by
  * blocking — exact dedup blocks on a full-content hash, MinHash on LSH band
  * keys, SimHash on signature, n-gram Jaccard on a length bucket. The only
  * shuffles are (a) the block-key self-join and (b) the final distinct.
  * Nothing is ever collected to the driver.
  */
object Dedup {

  /** C1 — exact dedup: md5-of-content blocking; keeps the smallest doc_id
    * per content group and reports group size.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Shingle-hash sets: doc_id + array of 60-bit-mod-P hashes of the doc's
    * distinct 3-word shingles (narrow). Strings never leave the scan stage —
    * all downstream set ops run on longs.
    */
  private def shingleHashed(spark: SparkSession, dir: String): DataFrame =
    shingleHashedOf(Tables.documents(spark, dir))

  /** Same derivation over ANY (doc_id, text) frame — batch or streaming
    * (every step is narrow, so it runs unchanged on a readStream source).
    * [[graft.streaming.DedupStream]] derives each micro-batch's shingle
    * sets here and consumes them inside the same micro-batch; they are
    * never joined against another stream, so no state ever holds them.
    */
  private[graft] def shingleHashedOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.VectorExpressions.shingleHashN(col("toks"), 3, P, distinct = true).as("h0"))

  /** LSH band keys (doc_id, bid, bkey, carry…) of a shingle-hashed frame —
    * the materialized index layout [[graft.streaming.DedupStream]] and
    * [[minhashIncremental]] probe. Each `carry` column (named, computed
    * from `sh`) is evaluated once per document beside the signature and
    * rides on every one of its band rows, so in-bucket or in-batch
    * verification needs no join back to the shingle table.
    *
    * INDEX-FORMAT NOTE: bkey changed from the "sig0,sig1" STRING to the
    * packed LONG sig[2j]·2³¹ + sig[2j+1] (r19 optimization — injective, so
    * buckets are identical). A deployment that PERSISTED a string-keyed
    * band index from an earlier version must rebuild it; all in-repo
    * consumers derive the index in-session, so nothing here breaks.
    */
  private[graft] def bandsOf(sh: DataFrame, carry: Column*): DataFrame = {
    // materialize the signature BEFORE fanning out band keys: inlining the
    // sig expression into the 32 element refs of the explode would evaluate
    // it 32× per row (measured 27 s vs 2 s at sf0.1)
    val signed = sh.select(col("doc_id") +: minhashSignature(col("h0")).as("sig") +: carry: _*)
    val carried = signed.columns.drop(2).map(col).toSeq
    signed.select(col("doc_id") +: carried :+ explode(bandKeys(col("sig"))).as("b"): _*)
      .select(Seq(col("doc_id"), col("b.bid"), col("b.bkey")) ++ carried: _*)
  }

  /** C2 — MinHash + LSH near-dup pairs.
    *
    * Pipeline (all narrow until the band self-join):
    * shingle → hash mod P → K=32 permutation minima → 16 band keys →
    * self-join on (bid, bkey) → distinct candidate pairs → exact-jaccard
    * verify ≥ threshold.
    *
    * At 100 TB the band join shuffles only (doc_id, band key) pairs — tiny
    * next to the corpus — and verification touches only candidates.
    */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    minhashLshOf(Tables.documents(spark, dir), threshold)

  /** The same pipeline over ANY (doc_id, text) frame — [[graft.operators
    * .Curation.curatePipeline]] runs it over the quality-gate survivors.
    */
  private[graft] def minhashLshOf(docs: DataFrame, threshold: Double): DataFrame = {
    // localCheckpoint, NOT cache(): the shingle table must materialize
    // once for the band derivation, but cache() registers the corpus-sized
    // plan with the session CacheManager where it stays pinned until an
    // explicit unpersist that no caller can issue (the result is a lazy
    // DataFrame). Checkpoint blocks are GC-released with the plan —
    // nothing outlives the query in a shared session. Lazy (eager = false)
    // so merely CONSTRUCTING the DataFrame (explain, plan tests) costs
    // nothing; the shingle job runs at first action. Caveat either way:
    // checkpoint blocks are not fault-tolerant — on executor loss or
    // dynamic-allocation downscale the query fails rather than recomputes,
    // so run these operators with shrink-protection off.
    val sh = shingleHashedOf(docs).localCheckpoint(false)
    val spark = docs.sparkSession
    import spark.implicits._
    // IN-BUCKET verification (the C2b r16 device, same rationale): on a
    // template-heavy corpus the band join emits tens of millions of pair
    // occurrences with a ~0.1% survival rate, so the former shape (slim
    // pairs → distinct → two array-carrying verify joins) moved tens of
    // GB to verify almost nothing. Each band row carries the sorted
    // shingle set once (16 copies per doc, independent of pair count);
    // each (bid, bkey) bucket walks its id-sorted members in place and
    // emits only threshold survivors; the final distinct sees survivors
    // only (a pair verifies once per colliding band). Same candidates,
    // same exact-jaccard verification, same output — a pure
    // execution-shape change the oracle doesn't see.
    val bands = bandsOf(sh, array_sort(array_distinct(col("h0"))).as("hh"))
      .select(col("bid"), col("bkey"), col("doc_id"), col("hh"))
      .as[(Int, Long, Long, Array[Long])]
    bands
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Array[Long])]) =>
        val ds = it.toArray.sortBy(_._3)
        val out = Seq.newBuilder[(Long, Long, Double)]
        var j = 1
        while (j < ds.length) {
          val h2 = ds(j)._4
          var i = 0
          while (i < j) {
            val h1 = ds(i)._4
            var a = 0; var b = 0; var c = 0
            while (a < h1.length && b < h2.length) {
              if (h1(a) == h2(b)) { c += 1; a += 1; b += 1 }
              else if (h1(a) < h2(b)) a += 1 else b += 1
            }
            val union = h1.length + h2.length - c
            val jac = if (union == 0) 0.0 else c.toDouble / union
            // emit at threshold − 1e-6 (a strict superset of the rounded
            // filter below): the oracle filters on the 6-dp ROUNDED value,
            // so testing raw jac here would drop a pair whose raw quotient
            // sits in [threshold − 5e-7, threshold) while the oracle keeps
            // it — the same boundary guard the ngram family's tEmit applies
            if (jac >= threshold - 1e-6)
              out += ((ds(i)._3, ds(j)._3,
                BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
            i += 1
          }
          j += 1
        }
        out.result().iterator
      }
      .toDF("d1", "d2", "jac")
      .where(col("jac") >= threshold)
      .distinct()
  }

  /** C2c — INCREMENTAL MinHash dedup: dedup an incoming batch against the
    * existing corpus without re-pairing the corpus with itself — the
    * production shape for continuous ingest (daily crawl deltas at 100 TB
    * never re-cluster the full corpus; they probe its LSH index). Batch =
    * docs with doc_id ≡ batchMod−1 (mod batchMod), corpus = the rest (a
    * deterministic, scale-free stand-in for "the new arrivals").
    *
    * Dataflow: ONE shingle scan checkpointed (serves both band derivations
    * and both verify joins); the corpus side IS the persisted LSH index a
    * real deployment stores (doc_id, bid, bkey); the BATCH bands broadcast
    * into it — the probe is a map-side join that streams the index with
    * ZERO index shuffle (batch ≪ corpus is the defining asymmetry; a
    * corpus-side shuffle would move the 100 TB side to meet the delta).
    * Candidates verify by exact jaccard like C2; only batch×corpus pairs
    * are ever generated — no corpus self-join.
    */
  def minhashIncremental(spark: SparkSession, dir: String, batchMod: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingleHashed(spark, dir).localCheckpoint(false)
    val isBatch = pmod(col("doc_id"), lit(batchMod.toLong)) === lit(batchMod - 1L)
    val idx = bandsOf(sh.where(!isBatch))
    val probe = bandsOf(sh.where(isBatch))
    val cand = idx.as("x")
      .join(broadcast(probe).as("y"),
        col("x.bid") === col("y.bid") && col("x.bkey") === col("y.bkey"))
      .select(col("y.doc_id").as("new_id"), col("x.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("corpus_id"), col("h0").as("hc")), "corpus_id")
      .join(sh.select(col("doc_id").as("new_id"), col("h0").as("hn")), "new_id")
      .select(col("new_id"), col("corpus_id"),
        round(jaccard(col("hc"), col("hn")), 6).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** C2b — containment near-dup pairs: C(A,B) = |A∩B| / |A| on the shingle
    * sets, both directions. Jaccard under-scores SUBSET duplication (a doc
    * quoted inside a 10× larger one has J ≈ 0.1 but C ≈ 1.0 from the
    * quoted side) — containment is how curation pipelines catch
    * wrapped/quoted copies.
    *
    * Candidate generation is containment-biased: symmetric MinHash bands
    * alone under-recall exactly the asymmetric pairs this operator exists
    * for (band collision probability tracks JACCARD), so the band join is
    * UNIONed with a sampled-shingle inverted index — every shingle hash
    * with `h % sampleMod == 0` is indexed, and docs sharing a sampled
    * shingle become candidates. If A ⊆ B, A's sampled shingles are all in
    * B, so the pair surfaces whenever A has ≥1 sampled shingle
    * (P = 1 − (1−1/sampleMod)^|A| — >0.99 for |A| ≥ 40 at the default 8),
    * independent of the size ratio. A document-frequency cap (maxDf)
    * drops stop-shingles so a posting list contributes ≤ maxDf² pairs —
    * the standard bound that keeps the self-join skew-safe at 100 TB
    * (sampleMod scales the index to 1/sampleMod of corpus shingles).
    *
    * Verification is the zero-allocation merge-walk intersection
    * ([[graft.functions.SortedIntersectCount]]) over sorted-distinct hash
    * sets; |∩| and the set sizes are integers, so the only FP op is the
    * final division — identical in both engines.
    */
  def containment(spark: SparkSession, dir: String, threshold: Double = 0.7,
      sampleMod: Int = 8, maxDf: Int = 64): DataFrame = {
    // same localCheckpoint-not-cache (and lazy) rationale as [[minhashLsh]]
    val sh = shingleHashed(spark, dir).localCheckpoint(false)
    // IN-BUCKET band-arm verification: band rows carry the sorted-distinct
    // shingle set, group by (bid, bkey), and each bucket runs its all-pairs
    // exact merge-walk in a tight per-group loop — candidate pairs are
    // NEVER materialized as rows; only threshold survivors are emitted.
    // Rationale, measured at sf10 (500k docs): the corpus is
    // template-heavy — the band join emits 72M pair occurrences (41M
    // distinct) of which ~25k survive, so every pair-shaped intermediate
    // is ~1600× wasted work: the former shape (slim pairs → distinct →
    // two array-carrying verify joins) moved ~40 GB of arrays to verify
    // 0.06% survivors (86.5 s); a self-join verifying inline still
    // materialized both arrays into 72M joined rows (58.7 s); and a
    // MinHash-estimate prefilter cannot prune the junk (this corpus
    // produces pairs with 16+/32 matching signature positions at true
    // J ≈ 0 — linear mod-P permutations are not min-wise independent
    // enough on template-shared shingles — measured in
    // ContainmentDistProbe). Here each doc's set crosses the shuffle 16×
    // (once per band, independent of pair count) and the walk reads
    // group-local arrays in place. Skew-safe: bucket population is
    // bounded (sf10 max 945 docs → ≤ 450k walks ≈ 50 ms in one task);
    // the df-capped sampled arm keeps its join form (tiny by
    // construction). Same candidates, same verification, same output as
    // the declarative oracle form — a pure execution-shape change.
    import spark.implicits._
    // Slim pre-pass: only buckets holding ≥ 2 docs can pair, and they are
    // rare (sf10: ~100k of 6.1M buckets — 5.97M are singletons that would
    // otherwise each pay group overhead for zero pairs AND drag their
    // doc's set through the shuffle). The hot-key list is bucket-count-
    // sized → broadcast; the payload side joins it map-side, so sets
    // cross the wire only for buckets that can produce a pair (sf10:
    // 8M → 2M band rows). The sig recompute in the slim pass is a narrow
    // scan over the checkpointed shingles — cheaper than checkpointing
    // the 16×-exploded payload rows. At 100 TB the hot-key list grows
    // with corpus templates; if it outgrows broadcast, drop the hint and
    // AQE plans the same filter as a shuffle join.
    val slimBands = sh
      .select(minhashSignature(col("h0")).as("sig"))
      .select(explode(bandKeys(col("sig"))).as("b"))
      .select(col("b.bid").as("bid"), col("b.bkey").as("bkey"))
    val hot = slimBands.groupBy("bid", "bkey")
      .agg(count(lit(1)).as("pop")).where(col("pop") >= 2)
      .select(col("bid"), col("bkey"))
    val bands = bandsOf(sh, array_sort(array_distinct(col("h0"))).as("hh"))
      .join(broadcast(hot), Seq("bid", "bkey"))
      .select(col("bid"), col("bkey"), col("doc_id"), col("hh"))
      .as[(Int, Long, Long, Array[Long])]
    val candBands = bands
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Array[Long])]) =>
        val ds = it.toArray.sortBy(_._3)
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
        var j = 1
        while (j < ds.length) {
          val h2 = ds(j)._4
          var i = 0
          while (i < j) {
            val h1 = ds(i)._4
            var a = 0; var b = 0; var c = 0L
            while (a < h1.length && b < h2.length) {
              if (h1(a) == h2(b)) { c += 1; a += 1; b += 1 }
              else if (h1(a) < h2(b)) a += 1 else b += 1
            }
            if (math.max(c.toDouble / h1.length, c.toDouble / h2.length) >= threshold)
              out += ((ds(i)._3, ds(j)._3, c, h1.length.toLong, h2.length.toLong))
            i += 1
          }
          j += 1
        }
        out.result().iterator
      }
      .toDF("d1", "d2", "ix", "n1", "n2")
    // sampled-shingle inverted index (h mod sampleMod = 0, df ≤ maxDf):
    // the asymmetric-recall arm. Its pair volume is tiny (df-capped), so
    // it keeps the verify-JOIN form; both arms emit the same verified
    // (d1, d2, ix, n1, n2) shape.
    val smp = sh.select(col("doc_id"), explode(col("h0")).as("h"))
      .where(pmod(col("h"), lit(sampleMod.toLong)) === 0)
    val dfok = smp.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("h")
    val smpf = smp.join(dfok, "h")
    val sets = sh.select(col("doc_id"),
      array_sort(array_distinct(col("h0"))).as("hh"))
    val candSampled = smpf.as("x")
      .join(smpf.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
      .join(sets.select(col("doc_id").as("d1"), col("hh").as("h1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("hh").as("h2")), "d2")
      .select(col("d1"), col("d2"),
        graft.functions.VectorExpressions.sortedIntersectCount(col("h1"), col("h2")).as("ix"),
        size(col("h1")).cast("long").as("n1"), size(col("h2")).cast("long").as("n2"))
    // Verified pairs carry identical (ix, n1, n2) from either arm, so the
    // threshold filter runs pre-union and the final distinct collapses
    // both band multiplicity (a pair verifies once per colliding band)
    // and band∪sampled overlap — it only ever sees SURVIVORS (~25k at
    // sf10), never the 41M-pair candidate set the old shape distinct-ed.
    candBands.union(candSampled)
      .where(greatest(col("ix").cast("double") / col("n1"),
        col("ix").cast("double") / col("n2")) >= threshold)
      .select(col("d1"), col("d2"),
        round(col("ix").cast("double") / col("n1"), 6).as("cont1"),
        round(col("ix").cast("double") / col("n2"), 6).as("cont2"))
      .distinct()
  }

  /** C3 — 60-bit SimHash signatures (narrow, no shuffle at all).
    * Downstream blocking joins on the signature (or rotated bands of it) find
    * hamming-close docs; the signature itself is the deliverable here.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), simhash60(col("toks")).as("simhash"))

  /** C4 — n-gram Jaccard near-dup pairs, blocked by length bucket
    * (n_chars/25). Character 4-grams hashed to longs at scan time — set ops
    * on long arrays are ~10× cheaper than on strings, and the finer bucket
    * quarters the candidate pairs (near-dups have near-equal length; the
    * blocking rule is part of the operator's declared semantics and the
    * oracle applies the same rule).
    */
  /** Band count for [[ngramJaccard]]'s pair groups — the smallest S
    * meeting BOTH budgets:
    *
    *  1. parallelism: nBuckets·S(S+1)/2 groups ≥ 16 tasks per core
    *     (group costs are skewed; over-decomposition levels the waves);
    *  2. block size: a cross-band group holds ~2·maxPop/S docs, which must
    *     stay under the all-pairs budget (with 10% headroom for uneven
    *     `doc_id % S` band splits) or the group silently flips into the
    *     prefix-filter path — lossless, but ~20× SLOWER on corpora whose
    *     gram universe is too small for rare prefixes.
    *
    * The parallelism term is capped at 8 and the block term at 16 (each
    * extra band pushes every gram array through the shuffle once more);
    * if 16 bands can't satisfy the block budget (≳33k docs in one length
    * bucket under the default 4096), the group runs the prefix path —
    * at that block size a quadratic all-pairs sweep is no longer the
    * cheaper side of the trade anyway.
    */
  private[graft] def ngramSalt(nBuckets: Long, maxPop: Long, cores: Int,
      maxAllPairsBlock: Int): Int = {
    val sPar = (1 to 8).find(s => nBuckets * s * (s + 1) / 2 >= 16L * cores).getOrElse(8)
    (sPar to 16).find(s => 2.0 * maxPop / s <= 0.9 * maxAllPairsBlock).getOrElse(sPar)
  }

  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.35,
      maxAllPairsBlock: Int = 4096, saltOverride: Option[Int] = None,
      maxBitsetUniverse: Int = 1 << 15,
      perDocTopK: Option[Int] = None): DataFrame = {
    import spark.implicits._
    // Grams ride the shuffle as order-preserving INTs (SortedGramInts: the
    // packed 4-byte code always fits 32 bits) — half the payload bytes of
    // the long form for the S× salted fan-out, int compares in the walks,
    // identical pair output (the encoding is an order-preserving bijection).
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("n_chars") / 25).cast("long").as("bucket"),
        graft.functions.VectorExpressions.sortedGramInts(col("text")).as("grams"))
    // Block-local candidate generation: each doc's gram set crosses the
    // shuffle ONCE (grouped by block). A bucket join instead copies both
    // arrays into every joined row — measured 9 s vs 2 s at sf0.1.
    //
    // Within a block, pair generation branches on block size:
    //  - small blocks: plain all-pairs with the zero-allocation merge walk.
    //  - giant blocks (> maxAllPairsBlock): an AllPairs/PPJoin-style prefix
    //    filter [Bayardo et al., WWW'07]. Each doc indexes only its
    //    (|g| − ceil(t·|g|) + 1)-prefix under the block's rarity order
    //    (in-block df, ties by gram value): if J(x,y) ≥ t, the smallest
    //    shared gram under that order provably lies in BOTH prefixes, so an
    //    inverted index over prefix grams finds every qualifying pair
    //    (lossless) without touching the bucket² non-candidates.
    // The cutoff is measured, not aesthetic: on this corpus the gram
    // universe is tiny (31-word vocab), every doc shares grams with every
    // other, and the index amplifies work instead of pruning — 989k
    // candidate probes vs 42k all-pairs in the largest sf0.1 bucket
    // (8.4 s vs 0.9 s end-to-end). Prefix filtering wins exactly when
    // blocks outgrow the quadratic budget AND gram diversity gives rare
    // prefixes — the 100 TB real-text regime.
    //
    // Salting: a bucket is split into S doc-bands; a doc lands in the S
    // groups (bucket, min(band,x), max(band,x)) so every pair is generated
    // exactly once across S(S+1)/2 groups. S is ADAPTIVE on two budgets
    // (see [[ngramSalt]]): enough groups for ≥16 tasks per core, AND
    // cross-band groups small enough (≤ ~maxAllPairsBlock docs) to stay on
    // the all-pairs path. The second budget is the round-9 lesson: sized
    // for parallelism alone (S=2 at local[4]), sf3's 6.9k-doc buckets
    // produced 6.9k-doc groups that flipped into the prefix-filter path —
    // which on THIS corpus (tiny gram universe, no rare prefixes) amplifies
    // ~20× instead of pruning, turning a ~2-minute query into hours of
    // single-threaded straggler. Group sizes are wildly skewed
    // (length-bucket populations span 11–292 docs at sf0.1) so
    // over-decomposition also levels the waves — measured best-of-3 at
    // sf0.1 under one JVM: S=1 1.84 s (23 tasks idle 32 cores), S=3
    // 1.23 s, S=4 1.15 s, S=8 1.05 s. The cost is the gram arrays crossing
    // the shuffle S×, which is why S is capped rather than unbounded; past
    // the cap (beyond ~33k-doc buckets) the prefix path takes over, which
    // is the right trade exactly when corpora are big AND diverse.
    val cores = spark.sparkContext.defaultParallelism
    val bucketStats = Tables.documents(spark, dir)
      .groupBy((col("n_chars") / 25).cast("long").as("bucket"))
      .agg(count(lit(1)).as("pop"))
      .agg(count(lit(1)).as("n_buckets"), max(col("pop")).as("max_pop"))
      .head()
    val nBuckets = math.max(1L, bucketStats.getLong(0))
    val maxPop = if (bucketStats.isNullAt(1)) 1L else bucketStats.getLong(1)
    val S = saltOverride.getOrElse(ngramSalt(nBuckets, maxPop, cores, maxAllPairsBlock))
    val t = threshold
    g.flatMap { r =>
      val doc = r.getAs[Long]("doc_id"); val bucket = r.getAs[Long]("bucket")
      val grams = r.getSeq[Int](2).toArray
      val band = (doc % S).toInt
      (0 until S).map { x =>
        (bucket, math.min(band, x), math.max(band, x), band, doc, grams)
      }
    }
      .groupByKey { case (bucket, lo, hi, _, _, _) => (bucket, lo, hi) }
      .flatMapGroups { (key: (Long, Int, Int), it: Iterator[(Long, Int, Int, Int, Long, Array[Int])]) =>
        val (_, lo, hi) = key
        val docs = it.map { case (_, _, _, band, doc, grams) => (band, doc, grams) }
          .toArray.sortBy(_._2)
        // Thresholded merge walk with early exit: returns the exact
        // jaccard when it can still reach `cmin` shared grams, −1 as soon
        // as even matching EVERY remaining gram (min of the two tails)
        // can't. Most pairs in a block are far below threshold, so most
        // walks exit in a few steps instead of |a|+|b|; survivors pay the
        // full walk and get the exact value — losslessness is the cmin
        // bound's (conservative ceil below), not the walk's.
        def jacAtLeast(a: Array[Int], b: Array[Int], cmin: Int): Double = {
          var x = 0; var y = 0; var c = 0
          while (x < a.length && y < b.length) {
            if (a(x) == b(y)) { c += 1; x += 1; y += 1 }
            else {
              if (a(x) < b(y)) x += 1 else y += 1
              val rem = math.min(a.length - x, b.length - y)
              if (c + rem < cmin) return -1.0
            }
          }
          val union = a.length + b.length - c
          if (union == 0) 0.0 else c.toDouble / union
        }
        // Emit bound: the outer filter keeps round(jac,6) ≥ t, i.e.
        // jac ≥ t − 5e-7; emitting at tEmit = t − 1e-6 is a strict
        // superset, so the rounded filter stays the single source of
        // truth. cmin: jac ≥ tEmit ⟺ c ≥ tEmit·(|a|+|b|)/(1+tEmit);
        // the 1e-9 pulls the ceil DOWN — FP noise may only weaken the
        // early exit, never drop a qualifying pair.
        val tEmit = t - 1e-6
        def cminOf(sumLen: Int): Int =
          math.ceil(tEmit * sumLen / (1.0 + tEmit) - 1e-9).toInt
        // Spark's round(col, 6) semantics exactly (HALF_UP on the shortest
        // decimal representation) — the per-doc top-k prune must order by
        // the same value the downstream window sees.
        def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (docs.length <= maxAllPairsBlock) {
          // Tight while-loops emitting ONLY ≥-threshold pairs: the old
          // form yielded every pair (sub-threshold included) out of
          // flatMapGroups and filtered after serialization — at sf10
          // that materialized billions of Tuple3s/InternalRows that the
          // very next operator dropped.
          //
          // Representation branch (r16): on template-heavy corpora the
          // block's gram UNIVERSE saturates far below the sum of its
          // docs' gram counts (every doc shares most grams), so the
          // merge walk does ~|a|+|b| branchy steps per pair while a
          // block-local BITSET intersection does only ⌈universe/64⌉
          // branchless AND+popcount words (measured sf0.1: 216M walk
          // steps vs 10M bit-words — the early exit can't close a 21×
          // op gap because high-overlap pairs defeat it). The bitset
          // engages only when the universe is small RELATIVE to the
          // walk cost and bounded absolutely (memory: ≤
          // maxBitsetUniverse bits/doc); a diverse real-text block
          // blows both budgets in the first few docs and falls back to
          // the walk. Exact either way: grams are sorted-distinct
          // ints, so |set| = array length and popcount(AND) = the
          // walk's intersection count.
          val n = docs.length
          val sumLen = {
            var s = 0L; var i0 = 0
            while (i0 < n) { s += docs(i0)._3.length; i0 += 1 }
            s
          }
          val avgLen = math.max(1L, sumLen / math.max(1, n))
          // Engage budget from the measured kernels (in-JVM microbenchmark,
          // sf10-shaped block): walk ≈ 900 ns/pair at |g|≈165 (high-overlap
          // pairs defeat the early exit), bitset ≈ 33 ns at stride 16 —
          // ~2 ns per word. Break-even is ~stride 450 ≈ universe 28800 ≈
          // 175× the mean gram count; 64× keeps a 3× safety margin while
          // letting SHORT-doc blocks (small avg, same saturated universe)
          // stay on the fast path — the 16× first cut exiled exactly those.
          val uniCap = math.min(maxBitsetUniverse.toLong, 64L * avgLen).toInt
          val gramIdx = new java.util.HashMap[Int, Int]()
          var overflow = uniCap <= 0 || n < 2
          var di = 0
          while (di < n && !overflow) {
            val gs = docs(di)._3; var k2 = 0
            while (k2 < gs.length && !overflow) {
              if (!gramIdx.containsKey(gs(k2))) {
                if (gramIdx.size >= uniCap) overflow = true
                else gramIdx.put(gs(k2), gramIdx.size)
              }
              k2 += 1
            }
            di += 1
          }
          val useBits = !overflow && n >= 2
          val stride = if (useBits) (gramIdx.size + 63) >>> 6 else 0
          val bits = if (!useBits) null else {
            val arr = new Array[Long](n * stride)
            di = 0
            while (di < n) {
              val gs = docs(di)._3; val off = di * stride; var k2 = 0
              while (k2 < gs.length) {
                val idx = gramIdx.get(gs(k2))
                arr(off + (idx >>> 6)) |= 1L << (idx & 63)
                k2 += 1
              }
              di += 1
            }
            arr
          }
          // exact jaccard of pair (i, j), or −1 when below threshold
          def pairJac(i: Int, j: Int): Double =
            if (useBits) {
              val oi = i * stride; val oj = j * stride
              var w = 0; var c = 0
              while (w < stride) {
                c += java.lang.Long.bitCount(bits(oi + w) & bits(oj + w))
                w += 1
              }
              val union = docs(i)._3.length + docs(j)._3.length - c
              val jc = if (union == 0) 0.0 else c.toDouble / union
              if (jc >= tEmit) jc else -1.0
            } else {
              val gi = docs(i)._3; val gj = docs(j)._3
              val jc = jacAtLeast(gi, gj, cminOf(gi.length + gj.length))
              if (jc >= tEmit) jc else -1.0
            }
          // within-band pairs belong to the (band, band) group only
          def pairOk(i: Int, j: Int): Boolean =
            (lo == hi) || (docs(i)._1 != docs(j)._1)
          perDocTopK match {
            case None =>
              // LAZY pair iterator, zero buffering: on a template-heavy
              // corpus ~21% of sf10's 6.2G candidate pairs qualify, so the
              // old collect-into-ArrayBuffer form allocated ~130 GB of
              // tuples per suite run and the query was GC-bound, not
              // kernel-bound (solo sf10 read 302 s with the pair kernel
              // itself costing ~7 s of core time).
              new Iterator[(Long, Long, Double)] {
                private var i = 0
                private var j = 0
                private var jac = -1.0
                private def seek(): Unit = {
                  jac = -1.0
                  while (jac < 0 && i < n - 1) {
                    j += 1
                    if (j >= n) { i += 1; j = i + 1 }
                    if (i < n - 1 && j < n && pairOk(i, j)) jac = pairJac(i, j)
                  }
                }
                seek()
                def hasNext: Boolean = jac >= 0
                def next(): (Long, Long, Double) = {
                  val r = (docs(i)._2, docs(j)._2, jac); seek(); r
                }
              }
            case Some(k) =>
              // Per-doc bounded top-k INSIDE the group (C4b): each group
              // emits ≤ 2k rows per member instead of the full qualifying
              // pair list — the group-local analogue of WindowGroupLimit,
              // applied before anything is serialized. Ordering matches
              // the downstream window exactly: (round(jac, 6) desc, nbr id
              // asc) — pruning on RAW jac could keep the wrong row when
              // two candidates round to the same 6-dp value.
              val nbrId = Array.ofDim[Long](n, k)
              val nbrJc = Array.ofDim[Double](n, k)
              val used = new Array[Int](n)
              def insert(d: Int, cand: Long, rjc: Double): Unit = {
                var pos = used(d)
                while (pos > 0 && (nbrJc(d)(pos - 1) < rjc ||
                    (nbrJc(d)(pos - 1) == rjc && nbrId(d)(pos - 1) > cand))) {
                  if (pos < k) { nbrJc(d)(pos) = nbrJc(d)(pos - 1); nbrId(d)(pos) = nbrId(d)(pos - 1) }
                  pos -= 1
                }
                if (pos < k) {
                  nbrJc(d)(pos) = rjc; nbrId(d)(pos) = cand
                  if (used(d) < k) used(d) += 1
                }
              }
              var i = 0
              while (i < n - 1) {
                var j = i + 1
                while (j < n) {
                  if (pairOk(i, j)) {
                    val jc = pairJac(i, j)
                    if (jc >= 0) {
                      val rjc = round6(jc)
                      insert(i, docs(j)._2, rjc)
                      insert(j, docs(i)._2, rjc)
                    }
                  }
                  j += 1
                }
                i += 1
              }
              (0 until n).iterator.flatMap { d =>
                (0 until used(d)).iterator.map(s => (docs(d)._2, nbrId(d)(s), nbrJc(d)(s)))
              }
          }
        } else {
          // in-block document frequency → rarity order (df asc, gram asc)
          val df = new java.util.HashMap[Int, Int]()
          docs.foreach(_._3.foreach(gr => df.merge(gr, 1, Integer.sum _)))
          val index = new java.util.HashMap[Int, java.util.ArrayList[Int]]()
          docs.indices.foreach { i =>
            val grams = docs(i)._3
            // ceil(t·|g|) computed with a downward epsilon: FP noise may
            // only LENGTHEN the prefix (still lossless), never shorten it
            val p = grams.length - math.ceil(t * grams.length - 1e-9).toInt + 1
            val byRarity = grams.sortBy(gr => (df.get(gr).intValue(), gr))
            var k = 0
            while (k < math.min(p, byRarity.length)) {
              index.computeIfAbsent(byRarity(k), _ => new java.util.ArrayList[Int]()).add(i)
              k += 1
            }
          }
          val seen = new java.util.HashSet[Long]()
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          index.forEach { (_, list) =>
            var a = 0
            while (a < list.size - 1) {
              var b = a + 1
              while (b < list.size) {
                val i = math.min(list.get(a), list.get(b))
                val j = math.max(list.get(a), list.get(b))
                // within-band pairs belong to the (band, band) group only
                if (((lo == hi) || (docs(i)._1 != docs(j)._1)) &&
                    seen.add(i.toLong << 32 | j)) {
                  val gi = docs(i)._3; val gj = docs(j)._3
                  val jc = jacAtLeast(gi, gj, cminOf(gi.length + gj.length))
                  if (jc >= tEmit) out += ((docs(i)._2, docs(j)._2, jc))
                }
                b += 1
              }
              a += 1
            }
          }
          perDocTopK match {
            case None => out.iterator
            case Some(kk) =>
              // same per-doc bound as the all-pairs branch; the prefix
              // regime (giant diverse blocks) emits sparsely, so a plain
              // group-and-take over the survivor buffer is fine here
              out.iterator.flatMap { case (a, b, jc) =>
                val rjc = round6(jc)
                Iterator((a, b, rjc), (b, a, rjc))
              }.toSeq.groupBy(_._1).valuesIterator.flatMap { rows =>
                rows.sortBy(r => (-r._3, r._2)).take(kk)
              }
          }
        }
      }
      .toDF("d1", "d2", "jac_raw")
      .select(col("d1"), col("d2"), round(col("jac_raw"), 6).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** C4b — top-k nearest neighbors per document by 4-gram Jaccard: the
    * output-bounded form of [[ngramJaccard]]. Candidate generation is
    * identical — the banded length-bucket blocks, bitset/merge-walk
    * all-pairs or lossless prefix filter — but each block emits only its
    * members' k best matches (both directions, ordered exactly as the
    * final window: round-6 jac desc, neighbor id asc), so ≤ 2k rows per
    * member leave the group regardless of how dense the near-dup
    * neighborhoods are. The prune is lossless for the global top-k: every
    * pair is generated in exactly ONE block, and dropping a row that
    * isn't in its block's per-doc top-k can't remove it from the union's
    * top-k (rank only worsens as candidates accumulate). On the sf10
    * template-heavy corpus this is the difference between shuffling
    * ~2.6G mirrored pair rows into the window and shuffling ~75M
    * (measured — the r16 restructure; before it the mirror explode was
    * already the single-pass form, but the PAIR LIST itself was the
    * hazard: a boilerplate-heavy crawl makes it quadratic in cluster
    * size). The final `row_number() <= k` window then merges the
    * per-block prefixes; ties (jac rounded to 6) break by neighbor id,
    * so the result is deterministic and oracle-exact.
    */
  def ngramTopK(spark: SparkSession, dir: String, k: Int = 3,
      threshold: Double = 0.35): DataFrame = {
    val cand = ngramJaccard(spark, dir, threshold, perDocTopK = Some(k))
      .select(col("d1").as("doc_id"), col("d2").as("nbr"), col("jac"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("jac").desc, col("nbr"))
    cand.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("nbr"), col("jac"))
  }

  /** C5 — embedding cosine near-dup pairs (ids + rounded score only, so the
    * result is FP-stable across engines), candidate-blocked by the same
    * deterministic coarse-quantizer cells [[semDedup]] uses: pairs are
    * generated WITHIN a cell only, then exact-cosine verified. This is the
    * SemDeDup-paper pair semantics (near-dups are near in embedding space,
    * so a coarse cell holds them together) — the earlier all-pairs form
    * measured 23.8× wall-time for 10× data at sf1, the one true quadratic
    * left in the dedup family.
    *
    * Scale shape: cell count tracks the corpus (`clamp(n/cellSize, 16,
    * 65536)`), so per-cell pair work is O(cellSize²) bounded and total pair
    * work is O(n·cellSize) — linear. Assignment is one narrow scan against
    * the broadcast seed codebook (the IVF layout's own cost); one shuffle
    * keyed by cell id; pairs never materialize as rows — each cell runs a
    * tight primitive loop emitting only ≥-threshold hits. The oracle
    * re-derives the identical cells, assignment tie-break and rounded
    * cosine in SQL ([[graft.Oracles.dedupEmbedding]]).
    */
  def embeddingNearDup(spark: SparkSession, dir: String, threshold: Double = 0.4,
      cellSize: Int = 250): DataFrame = {
    import spark.implicits._
    val cc = math.min(65536L, math.max(16L,
      Tables.embeddings(spark, dir).count() / cellSize)).toInt
    val v = Ann.normed(spark, dir)
    val centroids = v.select(col("vec_id"), col("e")).where(col("vec_id") < cc)
      .orderBy("vec_id").collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    v.select(col("vec_id"), col("e"), col("nrm"),
        Ivf.nearestCid(col("e"), centroids).as("cid"))
      .as[(Long, Array[Double], Double, Int)]
      .groupByKey(_._4)
      .flatMapGroups { (_: Int, it: Iterator[(Long, Array[Double], Double, Int)]) =>
        val vs = it.toArray.sortBy(_._1)
        for {
          i <- vs.indices.iterator
          j <- (i + 1 until vs.length).iterator
        } yield {
          val a = vs(i)._2; val b = vs(j)._2
          var s = 0.0; var d = 0
          while (d < a.length) { s += a(d) * b(d); d += 1 }
          (vs(i)._1, vs(j)._1, s / (vs(i)._3 * vs(j)._3))
        }
      }
      .toDF("id1", "id2", "cos_raw")
      .select(col("id1"), col("id2"), round(col("cos_raw"), 4).as("cos4"))
      .where(col("cos4") >= threshold)
  }

  /** C5b — SemDeDup [Abbas et al. 2023]: semantic dedup at the embedding
    * level. Cluster the corpus with a coarse quantizer (the same
    * deterministic seed codebook as [[Ivf]]), then WITHIN each cluster drop
    * every vector that has a lower-id cellmate with cosine ≥ tau — the
    * greedy keep-one-representative filter from the paper, with lowest id
    * as the deterministic representative rule.
    *
    * This is the scale path for [[embeddingNearDup]]: pair generation is
    * confined to clusters (the paper's own device for billions of
    * embeddings — cluster count C is the knob that bounds |cell|²; at
    * 100 TB you raise C so cells stay ~10⁴–10⁵ vectors). One shuffle keyed
    * by cluster id; pairs never materialize as rows — each cell is scanned
    * in a tight per-group loop that short-circuits at the first smaller-id
    * near-dup. Emits every vector with its cluster and keep verdict.
    *
    * `c ≤ 0` (the default) derives the cluster count from the corpus:
    * `clamp(n / 1000, 16, 65536)`, i.e. ~1000-vector cells, so the
    * per-cell O(|cell|²) loop AND the shuffle's parallelism both track
    * corpus size instead of pinning at 16 — the count is a
    * parquet-metadata read, and the oracle re-derives the same `c` from
    * the same `count(*)`. The 65536 cap bounds the collected seed
    * codebook (≤ 65536·dim doubles, ~34 MB at dim 64 — a driver artifact
    * like the ANN codebooks); past ~65M vectors cells grow beyond 1000
    * and a caller chasing SemDeDup's paper-scale settings passes an
    * explicit c with a correspondingly larger cluster budget.
    */
  def semDedup(spark: SparkSession, dir: String, c: Int = 0,
      tau: Double = 0.4): DataFrame = {
    import spark.implicits._
    val cc =
      if (c > 0) c
      else math.min(65536L,
        math.max(16L, Tables.embeddings(spark, dir).count() / 1000L)).toInt
    val v = Ann.normed(spark, dir)
    val centroids = v.select(col("vec_id"), col("e")).where(col("vec_id") < cc)
      .orderBy("vec_id").collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
    v.select(col("vec_id"), col("e"), col("nrm"),
        Ivf.nearestCid(col("e"), centroids).as("cid"))
      .select(col("vec_id"), col("cid"), col("e"), col("nrm"))
      .as[(Long, Int, Array[Double], Double)]
      .groupByKey(_._2)
      .flatMapGroups { (cid: Int, it: Iterator[(Long, Int, Array[Double], Double)]) =>
        val vs = it.toArray.sortBy(_._1)
        vs.indices.iterator.map { j =>
          val (idJ, _, eJ, nJ) = vs(j)
          var keep = true
          var i = 0
          while (keep && i < j) {
            val (_, _, eI, nI) = vs(i)
            var s = 0.0; var d = 0
            while (d < eJ.length) { s += eI(d) * eJ(d); d += 1 }
            // same rounded-4dp threshold rule as embeddingNearDup: FP noise
            // below the rounding grain can't flip the verdict across engines
            if (BigDecimal(s / (nI * nJ)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble >= tau) keep = false
            i += 1
          }
          (idJ, cid, keep)
        }
      }
      .toDF("vec_id", "cid", "keep")
      // oracle's row_number-derived cid is BIGINT
      .select(col("vec_id"), col("cid").cast("long").as("cid"), col("keep"))
  }

  /** C39 — cluster-balanced prototype pruning (the diversification half of
    * the D4 recipe: SemDeDup removes semantic near-dups, THEN the corpus is
    * rebalanced per embedding cluster so no dense region dominates the
    * training mix). Assign every vector to its nearest coarse centroid and
    * keep the `keep` most prototypical per cell — smallest squared distance
    * to the centroid, ties to the lower vec_id. `farthest = true` flips the
    * ranking to keep the hardest/most peripheral examples instead (the
    * SSL-prototypes pruning direction); same plan either way.
    *
    * Spark-first/100 TB: the codebook is the deterministic seed
    * construction ([[Ivf.train]] iters=0 — the oracle-checkable path, same
    * convention as q_ann_ivf), baked as literals into the fused
    * [[graft.functions.NearestCellExpr]] kernel, so assignment is a NARROW
    * scan — no broadcast join, no shuffle. Distances are integer-scaled
    * (floor(dist·10⁶), the q_ann_ivfpq convention) before ranking, so the
    * cross-engine order is exact. The per-cell top-`keep` is a rank window
    * whose `rk <= keep` filter plans as WindowGroupLimit: each task keeps
    * only `keep` rows per cell map-side, so the single cid-keyed exchange
    * carries ≤ cells·keep·tasks 24-byte triples — never vectors, never the
    * corpus. At 100 TB you raise `c` (cells) with corpus size; cost stays
    * one narrow scan + a model-sized shuffle.
    */
  def clusterPrune(spark: SparkSession, dir: String, c: Int = 16,
      keep: Int = 10, farthest: Boolean = false): DataFrame = {
    val centroids = Ivf.train(spark, dir, c, iters = 0)
    val rankKey = if (farthest) col("dist6").desc else col("dist6").asc
    val w = Window.partitionBy(col("cid")).orderBy(rankKey, col("vec_id"))
    Ann.normed(spark, dir)
      .select(col("vec_id"), Ivf.nearestCell(col("e"), centroids).as("nc"))
      .select(col("nc.cid").cast("long").as("cid"), col("vec_id"),
        floor(col("nc.dist") * lit(1000000.0)).cast("long").as("dist6"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= keep)
      .select(col("cid"), col("rk"), col("vec_id"), col("dist6"))
  }

  /** C29 — paragraph/span-level exact dedup (the C4 pipeline's
    * three-sentence-span rule [Raffel et al. 2020 §2.2] re-expressed for
    * flat token streams): docs split into tumbling W-word spans, each span
    * md5-hashed, and only the FIRST occurrence corpus-wide (smallest
    * (doc_id, para_idx)) keeps its span — boilerplate repeated across
    * pages drops everywhere else while each doc keeps its unique text.
    *
    * Scale shape: one narrow scan → span explode (fan-out ≤ n_words/W) →
    * ONE exchange keyed by span hash serving both window functions
    * (occurrence count for audit + first-occurrence rank). This is the
    * span-dedup architecture at 100 TB: the shuffle carries (hash, doc_id,
    * idx) triples — 40 bytes per span, never the text.
    */
  /** C33 — exact substring dedup intervals [Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"]: the MAXIMAL per-doc word
    * intervals covered by a W-word window that occurs ≥2 times anywhere in
    * the corpus (including twice in the same doc — the paper's rule). Where
    * [[graft.operators.Contamination.repeatedSpans]] audits repeated
    * windows and [[paragraphDedup]] drops fixed tumbling spans, this emits
    * the arbitrary-offset REMOVAL SPANS an exact-substring dedup actually
    * cuts: overlapping repeated windows merge, so a repeated 50-word
    * passage comes back as ONE (start, end) interval, not 41 window hits.
    *
    * Plan: per-position W-window hashes ([[graft.functions.ShingleHashN]]
    * occurrence mode, one narrow scan) → corpus-wide occurrence count
    * keyed by the 8-byte hash (shuffle 1, map-side partial) → semi-join of
    * positions against repeated hashes (shuffle 2, same key) → per-doc
    * gaps-and-islands merge (shuffle 3, keyed by doc): `pos − row_number()`
    * is constant exactly on contiguous runs, so one groupBy collapses each
    * run to its maximal interval. The shuffled rows are (doc_id, pos,
    * hash) triples — never text — which is the suffix-array economics of
    * the paper re-expressed relationally.
    */
  def substringIntervals(spark: SparkSession, dir: String, w: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `pos` feeds BOTH the repeated-hash aggregate and the probe join, so
    // the fused shingle pass runs twice (Catalyst does not reuse
    // differently-pruned subtrees). Pinning it with a localCheckpoint was
    // MEASURED AND REJECTED (r19-opt): materializing the corpus-sized
    // (doc_id, pos, h) position table cost more than the recompute at
    // sf1 (2.7 → 4.0 s; sf0.1 was a small win) — ShingleHashN is cheap
    // enough that store+reread loses, and the imbalance only grows with
    // corpus size.
    val pos = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= w)
      .select(col("doc_id"),
        posexplode(graft.functions.VectorExpressions
          .shingleHashN(col("toks"), w, 0L, distinct = false)).as(Seq("pos", "h")))
    val rep = pos.groupBy("h").agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    pos.join(rep.select("h"), "h")
      .withColumn("run", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("run"))
      .agg(min("pos").as("sp"), (max("pos") + w - 1).as("ep"))
      .select(col("doc_id"), col("sp").cast("long").as("start_pos"),
        col("ep").cast("long").as("end_pos"),
        (col("ep") - col("sp") + 1).cast("long").as("n_words"))
  }

  def paragraphDedup(spark: SparkSession, dir: String, w: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = transform(
      sequence(lit(0), (size(col("w")) - 1).divide(w).cast("int")),
      i => concat_ws(" ", slice(col("w"), i * w + 1, lit(w))))
    val byHash = Window.partitionBy("phash")
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .where(size(col("w")) > 0)
      // materialize the span array BEFORE the explode (Generate would
      // re-evaluate an inlined transform per output element)
      .select(col("doc_id"), spans.as("ps"))
      .select(col("doc_id"), posexplode(col("ps")).as(Seq("para_idx", "para")))
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        md5(col("para")).as("phash"))
      .withColumn("n_copies", count(lit(1)).over(byHash))
      .withColumn("rk",
        row_number().over(byHash.orderBy(col("doc_id"), col("para_idx"))))
      .select(col("doc_id"), col("para_idx"), col("phash"),
        col("n_copies"), (col("rk") === 1).as("keep"))
  }
}
