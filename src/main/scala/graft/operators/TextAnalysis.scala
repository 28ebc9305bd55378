package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash._
import graft.io.Tables

/** Text-analysis operators for corpus curation (SURVEY.md §2 C8–C11, A14/15).
  * All per-document features are narrow (no shuffle); only the model
  * aggregations shuffle, keyed on (category, word).
  */
object TextAnalysis {

  val EnStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** C8 — token statistics per document (narrow). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_unique"))

  /** C9 — language id via stopword-hit ratio heuristic; checked against the
    * table's `lang` label.
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        size(filter(col("toks"), t => t.isInCollection(EnStopwords))).cast("long").as("en_hits"),
        size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("predicted",
        when(col("en_hits").cast("double") / col("n_tokens") >= 0.05, lit("en"))
          .otherwise(lit("unknown")))
      .select(col("doc_id"), col("lang"), col("predicted"),
        (col("predicted") === col("lang")).as("correct"))

  /** C9b — REAL language-id: hashed char-trigram Naive Bayes
    * ([[LangIdModel]] — the fastText/CLD architecture) served as ONE
    * zero-shuffle narrow scan via the fused [[graft.functions
    * .VectorExpressions.ngramLangScores]] expression; the model is
    * 4096×5 integer micro-log weights baked in as literals (bounded at
    * any corpus size). Emits the per-language integer scores plus the
    * argmax (ties → alphabetically first), all exact — the DuckDB oracle
    * carries the same weight table as a VALUES literal and re-derives
    * gram extraction, hashing, lookup, sum, and argmax independently.
    * The scores array is materialized once per row before the per-lang
    * element_at projections (an inlined expression would re-walk the text
    * five times). Accuracy is pinned by LangIdSpec on held-out real
    * sentences — NOT on `documents.lang`, which is synthetic noise (see
    * [[LangIdModel]]); the stopword heuristic [[langId]] stays as the
    * cheap en/unknown filter.
    */
  def langIdNgram(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{LangIdModel => M}
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.VectorExpressions.ngramLangScores(
          col("text"), M.weights, M.priors, M.B).as("sc"))
    val withCols = M.Langs.zipWithIndex.foldLeft(scored) { case (df, (lang, i)) =>
      df.withColumn(s"s_$lang", element_at(col("sc"), i + 1))
    }
    val mx = greatest(M.Langs.map(l => col(s"s_$l")): _*)
    // argmax, ties to the alphabetically FIRST lang: fold from the last
    // lang so earlier langs' WHEN branches sit outermost
    val pred = M.Langs.reverse.foldLeft(lit(null).cast("string")) { (acc, lang) =>
      when(col(s"s_$lang") === mx, lit(lang)).otherwise(acc)
    }
    withCols.select(
      col("doc_id") +: M.Langs.map(l => col(s"s_$l")) :+ pred.as("predicted"): _*)
  }

  /** C10 — quality score: rational-arithmetic-only formula so any engine
    * reproduces it exactly (no exp/log).
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("uniq"),
        size(filter(col("toks"), t => t.isInCollection(EnStopwords)))
          .cast("long").as("stop"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("uniq").cast("double") / col("n_tokens"), 6).as("unique_ratio"),
        round(col("stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
        // composite score in EXACT integer ppm: 0.5·stop/n + 0.3·uniq/n +
        // 0.2·min(n/100, 1), cross-multiplied. The rounded-double form hit
        // a cross-engine half-way case at sf1 (n=64 → quality ·1e6 landing
        // exactly on .5: Spark's BigDecimal HALF_UP vs DuckDB's
        // nearest-double disagree by 1 in the 6th decimal). The raw ratios
        // stay doubles: for n < 256 they cannot land on a 6dp half-way
        // (needs 2-adic valuation ≥ 8 in the denominator).
        (expr("(500000 * stop + 300000 * uniq) div n_tokens")
          + lit(2000L) * least(col("n_tokens"), lit(100L))).as("quality_ppm"))

  /** C8b — BPE-ish token count: regex tokenizer (letter runs / digit runs /
    * single punctuation), the pre-merge shape of byte-pair tokenizers.
    * Pattern restricted to constructs Java regex and RE2 agree on.
    */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe_tokens"))

  /** Driver-side BPE merge loop over a word-frequency dictionary — the
    * published algorithm [Sennrich et al. 2016, "Neural Machine Translation
    * of Rare Words with Subword Units"]: words as char sequences + a `</w>`
    * terminator; each round counts adjacent symbol pairs weighted by word
    * frequency (overlaps counted), merges the most frequent pair
    * everywhere (ties broken lexicographically — fully deterministic), for
    * `nMerges` rounds or until no pair repeats. Cost is O(dict·rounds) —
    * corpus-independent, the reason BPE training is dictionary-form.
    */
  private[graft] def bpeMerges(dict: Seq[(String, Long)],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words: Array[(Array[String], Long)] = dict.toArray.map { case (w, f) =>
      (w.map(_.toString).toArray :+ "</w>", f)
    }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      val best = counts.filter(_._2 >= 2)
      if (best.isEmpty) exhausted = true
      else {
        val ((a, b), c) = best.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((r, a, b, c))
        words = words.map { case (syms, f) =>
          val m = scala.collection.mutable.ArrayBuffer[String]()
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
              m += a + b; j += 2
            } else { m += syms(j); j += 1 }
          }
          (m.toArray, f)
        }
        r += 1
      }
    }
    out.result()
  }

  /** The frequency-capped word dictionary BPE trains on: ONE corpus scan →
    * word counts (map-side combined), top `maxVocab` by (freq desc, word)
    * as a TakeOrdered — model-sized, never a global sort. At 100 TB the
    * dict is the frequency-capped vocabulary every production tokenizer
    * trains on (the tail a cap drops is exactly what BPE's char fallback
    * covers); collecting it is codebook materialization on the NB/k-means
    * footing, NOT a corpus collect.
    */
  private def bpeDict(spark: SparkSession, dir: String, maxVocab: Int): Seq[(String, Long)] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w"))
      .limit(maxVocab)
      .as[(String, Long)].collect().toSeq
  }

  /** C8c — BPE merge training (q_bpe_train): the learned merge table
    * (rank, left, right, pair_freq). Deterministic but not
    * SQL-expressible (the merge loop is inherently sequential with an
    * argmax per round) → rows-only driver check; the spec pins the merges
    * against hand-computed examples and the plain-Scala reference.
    */
  def bpeTrain(spark: SparkSession, dir: String, nMerges: Int = 30,
      maxVocab: Int = 10000): DataFrame = {
    import spark.implicits._
    bpeMerges(bpeDict(spark, dir, maxVocab), nMerges)
      .toDF("rank", "left", "right", "pair_freq")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        col("pair_freq"))
  }

  /** C8d — tokenize under the learned BPE (q_bpe_tokenize): per-doc
    * whitespace-word and BPE-symbol counts. Train is the dictionary pass
    * above; apply ships the merge table to every worker as literals inside
    * the fused [[graft.functions.BpeCount]] kernel (lowest-rank-first
    * greedy merge per word — the standard apply order) — a zero-shuffle
    * narrow scan, the same deploy shape as every model-apply operator
    * here (NB classify, LM score, ANN codebooks).
    */
  def bpeTokenCount(spark: SparkSession, dir: String, nMerges: Int = 30,
      maxVocab: Int = 10000): DataFrame = {
    val merges = bpeMerges(bpeDict(spark, dir, maxVocab), nMerges)
      .map(m => (m._2, m._3)).toArray
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_words"),
        graft.functions.VectorExpressions.bpeCount(col("toks"), merges).as("n_bpe"))
  }

  /** C11b — polynomial rolling hash of the full text (base 31 mod 2³¹-1),
    * the streaming-friendly content fingerprint; a narrow codegen scan
    * ([[graft.functions.RollingHash31]] — the HOF fold it replaces
    * allocated a string per character).
    */
  def rollingHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.VectorExpressions.rollingHash31(col("text"), 7L, P).as("rh"))

  /** C11 — document fingerprint: minimum 60-bit shingle hash (the classic
    * min-hash-of-shingles content fingerprint). Narrow.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_min(graft.functions.VectorExpressions.shingleHashN(
          col("toks"), 3, 0L, distinct = true)).as("fp"))

  /** A14 — Naive Bayes training: per-(category, word) counts + per-category
    * token totals, category = source. One shuffle keyed (source, word); the
    * per-category total rides a window over the same exchange... but source
    * cardinality is tiny so a second tiny agg + broadcast join is cheaper at
    * scale.
    */
  def nbTrain(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
    val counts = words.groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
    val totals = words.groupBy(col("source")).agg(count(lit(1)).as("cat_total"))
    counts.join(broadcast(totals), "source")
      .select(col("source"), col("word"), col("cnt"), col("cat_total"))
  }

  /** A15 — Naive Bayes classification of each doc into a source category:
    * add-1-smoothed multinomial argmax, score(doc, cat) =
    * Σ_w wcnt · ln((cnt(cat,w)+1) / (cat_total+V)).
    *
    * Two phases, like the ANN codebook queries: (1) train — one explode +
    * groupBy(source, word) aggregation, collected to the driver (the model
    * is vocab×cats log-probs, a bounded in-memory serving artifact); (2)
    * serve — ONE narrow scan scoring every doc via the fused
    * [[graft.functions.NbArgmax]] expression, zero shuffles.
    *
    * History (each measured at sf0.1): doc-word × category join fan +
    * argmax window was 2.27 s; deriving the model from the docWords
    * aggregate cut it to 1.98 s; caching docWords degraded join planning
    * 3.5× (7.1 s) and localCheckpoint paid more in partition writes than
    * the saved explodes (2.5 s). The map-side model serve replaces all of
    * it: 0.6 s, and the 100 TB plan is exactly what you'd want — the corpus
    * is scanned once for training (shuffling only (source, word) partials)
    * and once for scoring (no shuffle at all). If the vocabulary ever
    * out-grows memory, the join formulation in git history is the fallback.
    */
  def nbClassify(spark: SparkSession, dir: String,
      maxModelRows: Int = 20000000): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // The driver-side model is bounded by vocab×cats, NOT by corpus size —
    // fine for any real vocabulary, but web-scale token garbage (unbounded
    // unique "words") could OOM the driver. Collecting through a
    // limit(cap+1) keeps it one job AND bounds driver memory: the limit
    // truncates before transfer, and one extra row proves overflow.
    val modelRows = docs
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
      .limit(maxModelRows + 1).collect()
    require(modelRows.length <= maxModelRows,
      s"nbClassify: model exceeds $maxModelRows (source, word) rows — " +
        "prune the vocabulary (min-df filter) or use the join-based " +
        "formulation from git history instead of the broadcast model")
    val cats = modelRows.map(_.getString(0)).distinct.sorted
    val vocab = modelRows.map(_.getString(1)).distinct.sorted
    val catIdx = cats.zipWithIndex.toMap
    val wordIdx = vocab.zipWithIndex.toMap
    val catTotal = new Array[Long](cats.length)
    modelRows.foreach(r => catTotal(catIdx(r.getString(0))) += r.getLong(2))
    val denom = catTotal.map(t => (t + vocab.length).toDouble)
    val missing = denom.map(d => math.log(1.0 / d))
    val terms = Array.tabulate(vocab.length * cats.length)(i => missing(i % cats.length))
    modelRows.foreach { r =>
      terms(wordIdx(r.getString(1)) * cats.length + catIdx(r.getString(0))) =
        math.log((r.getLong(2) + 1).toDouble / denom(catIdx(r.getString(0))))
    }
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.VectorExpressions.nbArgmax(
          col("toks"), vocab, cats, terms, missing).as("predicted"))
  }

  /** PII redaction — the scrubbing pass every training corpus goes through
    * before model consumption: emails, IPv4 addresses and phone-shaped
    * numbers are counted and replaced with typed placeholder tags. The
    * corpus text is synthetic vocabulary words, so each doc is first
    * augmented with deterministic doc_id-derived PII (both engines build
    * the identical string) — exercising the matcher on real hits instead
    * of vacuously scanning clean text.
    *
    * Patterns are restricted to constructs Java regex and RE2 interpret
    * identically (character classes, bounded/unbounded repetition — no
    * backrefs, no lookaround). Replacement order matters: emails first
    * (their domains contain dots that could otherwise feed the IP
    * pattern), then IPs, then phones. The output carries md5 of the
    * redacted text rather than the text itself, so the oracle compares
    * redaction results exactly without shipping full text through the
    * hash-compare.
    *
    * Scale shape: one narrow scan, regexp all codegen'd — composes at
    * 100 TB like any per-row transform.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
    val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    // variable-count augmentation: doc_id%3+1 extra emails, doc_id%2 extra
    // IPs — so the count columns exercise real variation, not a constant
    val aug = concat(col("text"),
      expr("repeat(concat(' u', doc_id, '@ex.org'), CAST(doc_id % 3 AS INT) + 1)"),
      lit(" contact user"), col("doc_id"), lit("@mail.example.com from 10."),
      col("doc_id") % 200, lit(".0."), col("doc_id") % 250,
      expr("repeat(concat(' 192.168.0.', doc_id % 254 + 1), CAST(doc_id % 2 AS INT))"),
      lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        // function form, NOT expr(): the SQL parser unescapes '\.' to '.'
        // (any char) inside string literals, silently loosening the pattern
        size(regexp_extract_all(col("aug"), lit(emailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("aug"), lit(ipRe), lit(0))).cast("long").as("n_ip"),
        size(regexp_extract_all(col("aug"), lit(phoneRe), lit(0))).cast("long").as("n_phone"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("aug"),
          emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")).as("red_hash"))
  }

  /** q_oov_rate — vocabulary-coverage signal (the CCNet-flavored twin of
    * [[langId]]): per doc, the ppm of token OCCURRENCES absent from the
    * reference slice's vocabulary (all distinct tokens of `refLang` docs).
    * High OOV flags off-language or out-of-domain text that stopword
    * heuristics miss; exact integer arithmetic end to end.
    *
    * Scale shape, gated on reference-slice size (the round-8 lesson: the
    * Bloom build's treeAggregate costs more than the join it prunes while
    * the vocab still fits a broadcast — +76% at sf0.1):
    *
    *  - BELOW `bloomMinRefDocs` reference docs, the vocab is a plain
    *    broadcast left join — zero build cost, the fact side never
    *    shuffles. (Heaps' law: distinct types grow ~√tokens, so 1M docs
    *    keep the vocab in the low millions of strings — comfortably
    *    broadcastable; the ref-doc count itself is a single-column
    *    predicate-pushed scan, far cheaper than counting the vocab.)
    *  - ABOVE it, the vocab folds into a Bloom filter
    *    ([[BloomJoin.keyFilter]], distributed treeAggregate build) and the
    *    token-level join receives only Bloom-PASSING tokens. A Bloom miss
    *    has no false negatives, so those tokens are definite OOV and
    *    bypass the join straight into the map-side partial agg; false
    *    positives surface as null `known` in the exact join, so the
    *    result is exactly the plain-join baseline while the join carries
    *    ~|known hits| + fpp·|OOV| tokens instead of every token — the
    *    cheapening that matters once the vocab outgrows a broadcast and
    *    the join must shuffle.
    *
    * NULL tokens (the tokenizer never emits them today) route to the
    * definite-OOV arm — `where(p)`/`where(!p)` would silently drop them
    * from both arms — preserving the plain-join row identity where a null
    * key joins nothing and counts into n_tokens. Docs with zero tokens
    * emit no row (no rate to report), mirrored by the oracle.
    */
  def oovRate(spark: SparkSession, dir: String, refLang: String = "en",
      fpp: Double = 0.01, bloomMinRefDocs: Long = 1000000L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = docs.where(col("lang") === refLang)
      .select(explode(tokens(col("text"))).as("tok")).distinct()
      .withColumn("known", lit(1))
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("tok"))
    val refDocs = docs.where(col("lang") === refLang).count()
    val joined =
      if (refDocs < bloomMinRefDocs) toks.join(broadcast(vocab), Seq("tok"), "left")
      else {
        val bf = BloomJoin.keyFilter(vocab, "tok", fpp)
        val hit = BloomJoin.mightContain(col("tok"), bf)
        val probable = toks.where(hit).join(vocab, Seq("tok"), "left")
        val definite = toks.where(hit.isNull || !hit)
          .withColumn("known", lit(null).cast("int"))
        probable.unionByName(definite)
      }
    joined
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("known").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
  }

  /** C36 — PMI collocation mining (r9b): the top bigrams whose corpus
    * frequency exceeds what their unigram frequencies predict — the
    * phrase-mining signal behind tokenizer-merge construction and
    * stop-phrase lists (PMI = log lift; lift preserves the ranking, so
    * the log never enters the plan).
    *
    * Spark-first: bigrams materialize via transform(sequence) over the
    * token array — a NARROW fan-out, no self-join on (doc, pos) — then
    * two word-keyed aggs (unigram, bigram). The corpus totals (N tokens,
    * B bigrams) are 1-row re-aggregations of those SAME aggs, never a
    * third scan, and broadcast back as literals-by-join. Lift is computed
    * as one fixed-shape double expression — every multiply/divide is
    * IEEE-exact-rounded and order-pinned by the identical expression
    * tree on both engines, so the doubles are bit-equal cross-engine
    * (the aggregation-order hazard ExactMoney exists for does not arise:
    * all inputs are exact integer counts).
    *
    * At 100 TB: the explode shuffles (w1, w2) pairs — proportional to
    * corpus tokens, same class as q_wordcount — and the min-count filter
    * cuts the join input before the two unigram joins. Top-50 plans as
    * TakeOrdered, never a global sort.
    */
  def collocations(spark: SparkSession, dir: String,
      minCount: Int = 5, topN: Int = 50): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(tokens(col("text")).as("toks"))
    val uni = toks
      .select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val biAll = toks.where(size(col("toks")) >= 2)
      .select(col("toks"))
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    val totals = uni.agg(sum(col("n")).as("n_tok"))
      .crossJoin(biAll.agg(sum(col("n12")).as("n_big")))
    biAll.where(col("n12") >= minCount)
      .join(uni.withColumnRenamed("w", "u1w").withColumnRenamed("n", "n1"),
        col("w1") === col("u1w"))
      .join(uni.withColumnRenamed("w", "u2w").withColumnRenamed("n", "n2"),
        col("w2") === col("u2w"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
        expr("CAST(n12 AS DOUBLE) * n_tok * n_tok" +
          " / (CAST(n_big AS DOUBLE) * n1 * n2)").as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** C37 — bigram-LM document scoring, the perplexity-filter stand-in
    * (CCNet/Gopher-style quality signals rank documents by how probable a
    * cheap language model finds them; gibberish and word salad score low,
    * template/common text scores high). Score = the per-doc mean of the
    * bigram MLE probability p(w2|w1) = c(w1,w2) / c(w1,·), in EXACT integer
    * ppm (c12·10⁶ div c1, tf-weighted mean with floor division) — no log,
    * no FP accumulation, so both engines produce bit-identical scores. The
    * denominator is the bigram-LEFT count c(w1,·) = Σ_w c(w1,w), the true
    * MLE conditional denominator — derivable from the bigram table itself,
    * never a second corpus scan.
    *
    * Plan shape — train pass + score pass, both NARROW (this is how an
    * LM-filter deploys at 100 TB: the model replicates to workers, the
    * corpus never shuffles):
    *  - TRAIN: scan 1 fans out bigram occurrences (transform(sequence) +
    *    explode, never a positional self-join) straight into the (w1, w2)
    *    model agg — map-side combine collapses each task to ≤|bigram
    *    vocab| partials, so the only shuffle is model-sized. c1
    *    re-aggregates c12 by w1 (tiny).
    *  - SCORE: scan 2 joins each occurrence against the BROADCAST p
    *    table (the bigram LM — the artifact any perplexity filter ships
    *    to every worker, same footing as the ANN codebooks / NB model),
    *    then one doc_id agg whose map-side combine shrinks 29M occurrence
    *    rows to |docs| partials before the only data-sized shuffle.
    *    Per-occurrence mean ≡ tf-weighted mean over types, so the values
    *    are unchanged from the per-type formulation.
    *
    * Measured at sf10 (29M bigrams, 500k docs): 41 s (4.7 s at sf1 —
    * sub-linear), vs 57 s for a token-keyed-window formulation (Zipf skew
    * a window can't split) and 58–70 s for a localCheckpointed
    * (doc, w1, w2, tf) compaction — the compaction shuffled 29M
    * string-keyed rows into 28M groups (4% shrink); re-deriving the
    * occurrences with a second narrow scan beats materializing them, and
    * each pass's cost is the tokenize+explode scan itself.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    def occurrences = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // model-sized: materialize once so the c1 derivation and the p join
    // don't each replay the train scan (a third corpus pass, plan-pinned out)
    val c12 = occurrences.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint(false)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val p = c12.join(broadcast(c1), "w1")
      .select(col("w1"), col("w2"), expr("c12 * 1000000L div c1").as("p_ppm"))
    occurrences.join(broadcast(p), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("lm_ppm"))
  }

  /** C49 — canonical text normalization, the pre-dedup cleanup pass every
    * pipeline runs BEFORE hashing/shingling (CCNet/C4 convention: without
    * it, trivially-different copies — case, whitespace runs, stuttered
    * tokens — defeat exact and near dedup alike): lowercase, trim,
    * collapse whitespace runs (the tokenizer's empty-drop), and collapse
    * IMMEDIATE duplicate tokens ("a a the" → "a the" — the adjacent-
    * repeat artifact class; cross-doc repeats are C20/C33's job).
    *
    * ZERO-shuffle narrow scan: one split + one indexed array filter per
    * row, no explode, no regex backreference (Java regex has them, RE2
    * doesn't — the index-comprehension form is the one both engines
    * express; the oracle mirrors it as a DuckDB list comprehension).
    * Emits the normalized text plus kept/dropped token counts so the
    * reduction is auditable per document.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val w = tokens(lower(trim(col("text"))))
    Tables.documents(spark, dir)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), col("w"),
        // 2-arg filter index is 0-based; element_at is 1-based, so
        // element_at(w, i) IS the previous token of the i-th element
        filter(col("w"), (t, i) => i === lit(0) || t =!= element_at(col("w"), i)).as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("norm"),
        size(col("kept")).cast("long").as("n_toks"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_dropped"))
  }
}
