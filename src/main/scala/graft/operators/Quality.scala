package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash.tokens
import graft.io.Tables

/** Rule-based quality filtering and distribution profiling — the
  * pre-training gate every web-scale corpus passes through (the
  * Gopher/C4-style heuristic cascade: Rae et al. 2021 §A1.1, Raffel et al.
  * 2020 §2.2), re-expressed as exact integer/rational arithmetic so both
  * engines agree bit-for-bit.
  *
  * Scale shape: the cascade is a single narrow scan — every feature and
  * every verdict is per-row arithmetic, no shuffle anywhere; at 100 TB it
  * composes with the ingest scan for free. The histogram is the two-phase
  * bounded-artifact pattern (one total agg for the range, one narrow scan +
  * tiny keyed agg for the counts) the quantizers already use.
  */
object Quality {

  /** q_quality_filter — the rule cascade. Features (all integers):
    * n_words, mean word length ×100 (floor), stopword hits, max single-token
    * frequency ([[graft.functions.MaxTokenFreq]] — one hash-map pass per
    * row). Rules mirror the published heuristics scaled to this corpus's
    * synthetic text: word count in [5, 10000], mean word length ×100 in
    * [200, 1200], ≥1 stopword hit, max-token frequency ≤ 20% of words
    * (integer cross-multiplied, no division). `keep` is the conjunction;
    * per-rule flags are emitted so downstream can audit WHY a doc dropped —
    * the shape real curation pipelines log.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterOn(Tables.documents(spark, dir))

  /** The cascade as a DataFrame→DataFrame transform, so it applies to ANY
    * documents-shaped source — including a `readStream` ingest: every
    * feature is stateless per-row arithmetic, so the exact same plan runs
    * under Structured Streaming unchanged (spec-verified against the batch
    * operator on a file stream). This is the deployment shape at 100 TB:
    * the gate rides the ingest scan, not a second pass.
    */
  def qualityFilterOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("text"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_words"),
        // chars-without-spaces ×100 div words: mean word length, 2dp-exact
        (length(regexp_replace(col("text"), " ", "")) * 100L).as("nz"),
        size(filter(col("toks"), t => t.isInCollection(TextAnalysis.EnStopwords)))
          .cast("long").as("stop_hits"),
        graft.functions.VectorExpressions.maxTokenFreq(col("toks")).as("max_tok_freq"))
      .select(col("doc_id"), col("source"), col("n_words"),
        expr("nz div n_words").as("mean_wl_x100"),
        col("stop_hits"), col("max_tok_freq"))
      .withColumn("len_ok", col("n_words") >= 5 && col("n_words") <= 10000)
      .withColumn("wl_ok", col("mean_wl_x100") >= 200 && col("mean_wl_x100") <= 1200)
      .withColumn("stop_ok", col("stop_hits") >= 1)
      // max_tok_freq/n_words ≤ 0.2 without division: 5·freq ≤ n_words
      .withColumn("rep_ok", col("max_tok_freq") * 5 <= col("n_words"))
      .withColumn("keep",
        col("len_ok") && col("wl_ok") && col("stop_ok") && col("rep_ok"))

  /** q_histogram — equi-width histogram of a numeric column (n_chars over
    * documents): B buckets over the global [min, max], all boundaries and
    * assignments in integer arithmetic (`(x − mn) · B div (mx − mn + 1)`),
    * so bucket ids are engine-exact. The (min, max) range is ONE total
    * aggregate (a 2-long "shuffle"); counts are a B-row keyed agg off a
    * narrow scan. Empty buckets are emitted with zero counts (left join
    * against the bucket spine) so the output is a fixed B-row profile —
    * the shape a data-quality dashboard consumes.
    */
  def histogram(spark: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    // NOTE: the DuckDB oracle hardcodes buckets=16 — parity holds only for
    // the default; other widths are spec-tested, not oracle-checked.
    val r = Tables.documents(spark, dir)
      .agg(min(col("n_chars").cast("long")), max(col("n_chars").cast("long"))).first()
    require(!r.isNullAt(0), "histogram: documents table is empty (no range to bucket)")
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val span = mx - mn + 1 // ≥1, so the bucket expression can't divide by 0
    val counts = Tables.documents(spark, dir)
      .select(expr(s"((n_chars - $mn) * $buckets) div $span").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val spine = spark.range(buckets).select(col("id").as("bucket"))
    spine.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        (lit(mn) + expr(s"(bucket * $span) div $buckets")).as("lo"),
        (lit(mn) + expr(s"((bucket + 1) * $span) div $buckets") - 1).as("hi"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** q_repetition — Gopher-style repetition features (Rae et al. 2021
    * §A1.1: "duplicate n-gram fraction"): per doc, the ppm fraction of
    * duplicated words, 2-grams, and 3-grams — catches the boilerplate/
    * template pages where one token never dominates (so
    * [[qualityFilter]]'s max-token-frequency rule misses them) but whole
    * phrases repeat. All ratios are integer cross-multiplied ppm; n-grams
    * are per-POSITION hash arrays ([[graft.functions.ShingleHashN]]
    * occurrence mode), so `size − size(distinct)` counts duplicated slots
    * exactly like the oracle's list arithmetic. Zero shuffles — composes
    * with the ingest scan.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
        graft.functions.VectorExpressions
          .shingleHashN(col("toks"), 2, 0L, distinct = false).as("g2"),
        graft.functions.VectorExpressions
          .shingleHashN(col("toks"), 3, 0L, distinct = false).as("g3"))
      .select(col("doc_id"), col("n_words"),
        expr("((n_words - n_uniq) * 1000000) div n_words").as("dup_word_ppm"),
        expr("(cast(size(g2) - size(array_distinct(g2)) as bigint) * 1000000)" +
          " div size(g2)").as("dup_2gram_ppm"),
        expr("(cast(size(g3) - size(array_distinct(g3)) as bigint) * 1000000)" +
          " div size(g3)").as("dup_3gram_ppm"))

  /** q_source_overlap — cross-source content overlap matrix: for every
    * source pair (a ≤ b), the number of distinct 3-word shingles present
    * in both — the corpus-level audit of which slices share content
    * (diagonal rows are per-source distinct-shingle totals, so consumers
    * derive Jaccard/containment ratios directly). The doc-level twins are
    * [[graft.operators.Contamination.decontaminate]] (vs a benchmark) and
    * [[graft.operators.Dedup.containment]] (pairwise).
    *
    * Scale shape: ONE corpus-proportional exchange — groupBy shingle hash
    * with a partially-aggregated `collect_set(source)` (each in-flight set
    * is bounded by #sources, a handful) — then the source pairs explode
    * IN-ROW from the sorted set (a ≤ b including the diagonal) into a
    * #sources²-row aggregate. The round-6 self-join form scanned the
    * distinct (source, hash) table twice unless Catalyst happened to reuse
    * the exchange; this shape makes the single scan structural.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = flatten(transform(col("ss"), (a, i) =>
      transform(slice(col("ss"), i + lit(1), size(col("ss")) - i),
        b => struct(a.as("src_a"), b.as("src_b")))))
    Tables.documents(spark, dir)
      .select(col("source"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("source"),
        explode(graft.functions.VectorExpressions
          .shingleHashN(col("toks"), 3, graft.functions.TextHash.P, distinct = true)).as("h"))
      .groupBy(col("h")).agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(pairs).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** q_compression_ratio — the compression-ratio boilerplate signal
    * (RefinedWeb/Dolma-style): ratio_ppm = deflate(text)·10⁶ div raw
    * UTF-8 bytes. Templated/repetitive pages compress far below prose even
    * when no single token or n-gram dominates, so this catches what both
    * [[qualityFilter]]'s max-token rule and [[repetition]]'s dup-n-gram
    * fractions miss. Zero-shuffle narrow scan, composing with the ingest
    * pass like the rest of the cascade.
    *
    * Deflate output is codec-implementation-specific, so this is the
    * second rows-only query (after q_approx_stats): the driver checks
    * rows, the spec pins the discriminative ordering (repetitive ≪ prose ≪
    * random), determinism, and bounds.
    */
  def compressionRatio(spark: SparkSession, dir: String, level: Int = 6): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("raw_bytes"),
        graft.functions.VectorExpressions.deflateSize(col("text"), level).as("comp_bytes"))
      .where(col("raw_bytes") > 0)
      .withColumn("ratio_ppm", expr("comp_bytes * 1000000 div raw_bytes"))

  /** q_sample_stratified — exact per-stratum sampling: the k docs with the
    * smallest salted portable hash WITHIN each source. Same leak-proof
    * RNG-free device as [[Curation.hashSplit]], but rank-based so every
    * stratum yields exactly k rows regardless of its size (proportional
    * acceptance can't promise that). Plan: one narrow scan + one window
    * exchange keyed by source; the `row_number() <= k` filter gets
    * WindowGroupLimit partial pruning, so each partition forwards at most
    * k rows per stratum — never a stratum sort at scale.
    */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit("strat:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("source"), col("rk").cast("long").as("rk"), col("doc_id"))
  }

  /** C45 — per-source corpus profile (the dataset-card table): doc count,
    * token/char totals, mean doc length and English share, all in exact
    * integer arithmetic (means as ppm floor division). This is the
    * one-glance audit every corpus release ships and every mixture
    * decision reads ([[Curation.domainMix]] consumes exactly these
    * shares).
    *
    * Scale shape: ONE narrow scan — each doc collapses to (source, 1,
    * n_toks, n_chars, is_en) in the map-side partial agg, so the only
    * shuffle is |sources| rows wide. No windows, no joins.
    */
  def corpusProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_toks"),
        col("n_chars"), when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("is_en")).as("n_en"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("n_tokens * 1000000L div n_docs").as("avg_tokens_ppm"),
        expr("n_en * 1000000L div n_docs").as("en_share_ppm"))
}
