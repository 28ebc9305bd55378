package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Analytics operators beyond the reference's own surface: as-of / range
  * joins, pivot, cube, exact percentiles, JSON extraction. Each has a DuckDB
  * oracle; each is designed around one bounded shuffle.
  */
object Analytics {

  /** Generic as-of join: for each left row, the latest right row with
    * right ts <= left ts within the same key — the classic
    * point-in-time-correct feature lookup.
    *
    * Spark has no ASOF JOIN; the naive per-row subquery is O(n²). This is
    * the single-shuffle formulation: tag both inputs, union, and carry the
    * last right value forward with one ordered window per key. At 100 TB the
    * cost is exactly one repartition by key + one sort — the same exchange a
    * plain join would need.
    */
  def asOf(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      idCol: String, rightId: String): DataFrame = {
    val l = left.select(col(key), col(tsCol).as("__ts"), col(idCol).as("__lid"),
      lit(null).cast("long").as("__rid"), lit(1).as("__tag"))
    val r = right.select(col(key), col(tsCol).as("__ts"), lit(null).cast("long").as("__lid"),
      col(rightId).cast("long").as("__rid"), lit(0).as("__tag"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__tag"), coalesce(col("__rid"), col("__lid")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__asof_rid", last(col("__rid"), ignoreNulls = true).over(w))
      .withColumn("__asof_ts",
        last(when(col("__tag") === 0, unix_micros(col("__ts"))), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .select(col(key), col("__lid").as(idCol), col("__asof_rid"),
        col("__ts").as(tsCol), col("__asof_ts"))
  }

  /** q_asof_join — for each purchase, the user's most recent prior click. */
  def asofPurchaseClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
    val clicks = ev.where(col("event_type") === "click")
    asOf(purchases, clicks, "user_id", "ts", "event_id", "event_id")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("__asof_rid").as("last_click_id"),
        (unix_micros(col("ts")) - col("__asof_ts")).as("gap_us"))
  }

  /** q_range_join — for each error event, clicks (any user) in the previous
    * 60 s. Implemented as a bucketed equi-join: bucket = 60 s of epoch-µs,
    * each error probes its own and the previous bucket, the exact range
    * predicate filters inside the join. Converts an O(n²)
    * BroadcastNestedLoop into a hash join whose fan-out is 2× — the
    * standard range-join-at-scale pattern.
    */
  def rangeJoinErrorClicks(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 60L * 1000000
    val ev = Tables.events(spark, dir)
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        (unix_micros(col("ts")) / winUs).cast("long").as("bucket"))
      .withColumn("probe", explode(array(col("bucket") - 1, col("bucket"))))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), unix_micros(col("ts")).as("cus"),
        (unix_micros(col("ts")) / winUs).cast("long").as("cbucket"))
    errors.join(clicks,
        col("cbucket") === col("probe") &&
          col("cus") >= col("us") - winUs && col("cus") <= col("us"), "left")
      .groupBy(col("event_id"))
      .agg(count(col("click_id")).as("n_recent_clicks"))
  }

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** q_pivot — event-type counts pivoted to columns per user. */
  def pivotUserActivity(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .count()
    p.select(col("user_id") +: EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** q_cube — CUBE over (market segment × order priority). */
  def cubeSegmentPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), ExactMoney.sum2(col("o_totalprice")).as("total"))

  /** E5b — GROUPING SETS: the explicit multi-lattice agg completing the
    * rollup (prefixes) / cube (all subsets) family — here the custom set
    * list ((seg, prio), (seg), (prio)): both one-dimension margins but NOT
    * the grand total, a lattice neither rollup nor cube can express.
    * grouping_id() disambiguates an aggregated-away NULL from a data NULL.
    * Spark plans all sets through ONE Expand + a single agg — one
    * fact-side shuffle total, vs three scans + a union by hand; at 100 TB
    * the Expand multiplies rows 3× BEFORE the combiner, which map-side
    * collapses to ≤ |lattice keys| partials per task (same property the
    * rollup/cube plans rely on).
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupingSets(
        Seq(Seq(col("c_mktsegment"), col("o_orderpriority")),
          Seq(col("c_mktsegment")), Seq(col("o_orderpriority"))),
        col("c_mktsegment"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"), ExactMoney.sum2(col("o_totalprice")).as("total"))

  /** q_percentiles — exact interpolated median/p95 of value per event type
    * (Spark `percentile` ↔ DuckDB `quantile_cont`, same linear
    * interpolation).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.5D, 0.95D))").as("p"))
      .select(col("event_type"),
        round(element_at(col("p"), 1), 6).as("p50"),
        round(element_at(col("p"), 2), 6).as("p95"))

  /** q_approx_stats — sketch aggregates: HLL++ distinct users and
    * approximate percentiles per event type. At 100 TB these replace their
    * exact twins (q_distinct, q_percentiles): fixed-size mergeable sketch
    * state per group instead of per-key shuffle rows / full sorts, so the
    * answer costs one partial-agg pass regardless of cardinality.
    * Accuracy is engine-specific → no DuckDB hash oracle (rows-only check);
    * AnalyticsSpec bounds the error against the exact answers instead.
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        expr("approx_percentile(value, array(0.5D, 0.95D), 10000)").as("ap"))
      .select(col("event_type"), col("approx_users"),
        round(element_at(col("ap"), 1), 6).as("ap50"),
        round(element_at(col("ap"), 2), 6).as("ap95"))

  /** q_json_extract — pull a typed field out of the semi-structured props
    * column and aggregate on it (narrow parse, one shuffle).
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"), col("value"))
      .groupBy(expr("k div 10").as("k_bucket"))
      .agg(count(lit(1)).as("n"), ExactMoney.sum2(col("value")).as("sum_value"))

  /** E9 — distribution window functions (ntile / percent_rank / cume_dist)
    * per source over document length: one exchange keyed by source, total
    * order via the (n_chars, doc_id) tiebreak so every rank is
    * deterministic. The ratios are small-integer divisions — identical
    * IEEE results on any engine, rounded 6dp for belt and braces.
    */
  def windowStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
  }

  /** E14 — per-group z-score outliers (data-validation / anomaly gate) in
    * EXACT arithmetic: the 2dp `value` becomes integer cents, and
    * |x − μ| > 3σ is tested by the cross-multiplied integer form
    * (n·x − s1)² > 9·(n·s2 − s1²) — no division, no sqrt, no FP, so the
    * flag set is bit-identical cross-engine. The squared deltas exceed
    * int64 once a group passes ~10⁵ rows, so the COMPARISON runs in
    * DECIMAL(38,0) (exact 128-bit integers; DuckDB twin uses HUGEINT) —
    * good to ~10¹² events/group, and the decimals never reach the output
    * (parity decimal-out rule).
    *
    * Scale shape: one |types|-row moments agg (map-side partials), moments
    * BROADCAST back onto a second narrow scan — the corpus never shuffles;
    * the same two-pass pattern as the SQ8 quantizer train/encode.
    */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    def ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val m = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("cents")).as("s1"),
      sum(expr("cents * cents")).as("s2"))
    val nD = col("n").cast("decimal(38,0)")
    val s1D = col("s1").cast("decimal(38,0)")
    val dev = nD * col("cents") - col("s1")
    ev.join(broadcast(m), "event_type")
      .where(dev * dev > lit(9) * (nD * col("s2") - s1D * s1D))
      .select(col("event_id"), col("user_id"), col("event_type"), col("cents"))
  }

  /** E16 — table profile (the deequ/TFDV-style data-validation card): ONE
    * aggregation row over orders with row count, per-column null counts,
    * exact NDV for the low-cardinality enums, min/max bounds for price and
    * date, and the exact-sum mean price (the aggGroupBy decimal device —
    * numerator exact, divide-then-round deterministic).
    *
    * Scale shape: a single agg pass — every stat is map-side
    * partial-aggregable and the output is ONE row. The two exact
    * count-distincts plan as one Expand (×3 row multiplication on a
    * 2-column projection) feeding the same partial agg — the standard
    * Spark multi-distinct shape; NDV is exact only where cardinality is
    * bounded by the domain (status/priority enums); a high-cardinality
    * column would use approx_count_distinct instead (that sketch twin
    * lives in q_approx_stats).
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_status"),
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("null_price"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_date"),
      countDistinct(col("o_orderstatus")).as("ndv_status"),
      countDistinct(col("o_orderpriority")).as("ndv_priority"),
      round(min(col("o_totalprice")), 2).as("min_price"),
      round(max(col("o_totalprice")), 2).as("max_price"),
      // int128 cent sum, not sum(decimal): same exact numerator, but the
      // long buffer keeps this wide aggregate fast-hash-map eligible (the
      // r12 money-path sweep — see ExactMoney's cost-history note)
      round(ExactMoney.sumCentsCol(ExactMoney.centsCol(col("o_totalprice")))
        / count(lit(1)), 6).as("avg_price"),
      // orderdate is TIMESTAMP_NTZ in the parquet; the session TZ is
      // pinned UTC so the cast to TIMESTAMP is value-preserving
      unix_millis(min(col("o_orderdate")).cast("timestamp")).as("min_date_ms"),
      unix_millis(max(col("o_orderdate")).cast("timestamp")).as("max_date_ms"))

  /** E17 — equi-depth quartiles of l_quantity, the SCALE-HONEST form of
    * NTILE: a plain `ntile(4) over (order by ...)` globally sorts the fact
    * into ONE task (and a per-segment variant puts each whole segment in
    * one task) — the classic window-function scale trap. Here the value
    * domain is bounded (quantities 1..50), so the exact assignment derives
    * from the VALUE HISTOGRAM instead: every row of a value lands in the
    * bucket of its value-group's FIRST row, bucket(v) = 1 + (4·rows-before-
    * v) div n — integer arithmetic, deterministic, and ties never split
    * (documented deviation from NTILE, which splits value groups to
    * equalize counts).
    *
    * Scale shape: ONE narrow fact scan → |domain|-row histogram agg
    * (map-side partials); the cumulative window and the bucket fold run on
    * that bounded table (single tiny partition BY CONSTRUCTION — the
    * aggregation reduced cardinality first, the D9 rule). No second fact
    * scan, no fact-scale sort anywhere. Output ≤4 rows: bucket, row count,
    * value bounds.
    *
    * NOTE: the registered q_equidepth oracle hardcodes quartiles — callers
    * passing `buckets != 4` get a correct equi-depth histogram but are NOT
    * covered by the DuckDB parity gate (EquidepthSpec-style checks must
    * pin any other bucket count on their own).
    */
  def equidepth(spark: SparkSession, dir: String, buckets: Int = 4): DataFrame = {
    val h = Tables.lineitem(spark, dir)
      .groupBy(col("l_quantity").as("q"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("q")).rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("before", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("bucket", expr(s"1 + ($buckets * before) div n"))
      .groupBy(col("bucket"))
      .agg(sum(col("c")).as("n_rows"),
        round(min(col("q")), 2).as("lo"), round(max(col("q")), 2).as("hi"))
  }

  /** E18 — trailing-7-event rolling MEDIAN of event value per user: the
    * robust-statistics complement of A12's rolling mean (a median shrugs
    * off the spikes that drag a mean — the anomaly-tolerant smoother real
    * monitoring pipelines use). Exact: values become integer cents, the
    * median is the LOWER median element_at((n+1) div 2) of the sorted
    * window — a picked element, never an average of two, so no FP and no
    * cross-engine tie ambiguity.
    *
    * Scale shape: ONE user-keyed exchange (the same single-window budget
    * as q_moving_avg/q_lag_delta); the collect_list is bounded at 7
    * elements per row by the ROWS frame, so per-row state is O(window),
    * never O(partition). Oracle: DuckDB `list()` as a window aggregate
    * with the identical sort+index — both engines 1-index lists.
    */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    // ordering by ts_ms is the same total order as ts (unix_millis is
    // monotone) and lets the projection drop the timestamp early
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id")).rowsBetween(-6, 0)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("win", sort_array(collect_list(col("cents")).over(w)))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        expr("element_at(win, CAST((size(win) + 1) div 2 AS INT))").as("med_cents"))
  }

  /** E20 — q_drift_ks: EXACT two-sample Kolmogorov–Smirnov drift statistic
    * per event type between the first and second half of the time range —
    * the distribution-drift monitor every long-running ingest pipeline
    * needs (a mean/σ gate like E14 misses shape changes that keep the
    * moments; KS is the standard nonparametric answer). Values become
    * integer cents, so D = max |cdf₁ − cdf₂| is computed EXACTLY by
    * cross-multiplication — max |cum1·n2 − cum2·n1| over the merged value
    * domain — with no FP cdf arithmetic to diverge engines; reported as
    * ks_ppm = floor(10⁶·D_num / (n1·n2)). A half with no data (n=0) is
    * total drift by definition → 10⁶.
    *
    * Scale shape: the (min,max) midpoint is a 1-row agg broadcast back
    * onto one narrow scan (the SQ8/E14 two-pass device — the only BNLJ,
    * 1 row); per-(type, cents) conditional counts are ONE map-side-partial
    * agg; the cumulative/total windows ride a single event_type exchange
    * over the HISTOGRAM table (|types|·|distinct cents| rows — value-domain
    * sized, not event-sized). Cross products run in DECIMAL(38,0)
    * (DuckDB HUGEINT) per the E14 widening rule — cum·n overflows BIGINT
    * past ~3·10⁹ rows per type — but only BIGINTs reach the output.
    */
  def driftKs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        unix_millis(col("ts")).as("ms"))
    val mid = ev.agg(expr("(min(ms) + max(ms)) div 2").as("mid"))
    ksFromCounts(ev.crossJoin(broadcast(mid))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("ms") < col("mid"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("ms") >= col("mid"), 1L).otherwise(0L)).as("c2")))
  }

  /** E23 — q_drift_psi: Population Stability Index per event type between
    * the time halves — the monitoring industry's standard companion to
    * E20's KS (KS reads the worst single point of cdf divergence; PSI
    * reads the MASS of the shift across the whole distribution, the
    * number scorecard/feature-drift dashboards threshold at 0.1/0.25):
    * PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over `bins` BASELINE-QUANTILE
    * bins with add-one smoothing (empty bins are log(0) otherwise).
    *
    * Bins are equal-MASS in the first half (the published PSI practice:
    * the baseline defines the grid), derived exactly from the value-
    * domain cdf — bin(v) = min(bins−1, bins·|{first-half rows < v}| div
    * n1| — NOT equal-width over the pooled (min,max): one extreme
    * outlier would collapse all regular mass into one bin and a real
    * shift would read PSI ≈ 0 (the r14 QuantileCode16 lesson; r18
    * review caught the same hole here, MIRRORED into the oracle — the
    * gate-blind class). A type with an EMPTY half is total drift by
    * definition → sentinel 10⁹. Unlike KS, PSI is unbounded, so the KS
    * sentinel (10⁶ = the bounded metric's max) would NOT dominate — but
    * add-one smoothing bounds every computable PSI by 2·ln(n+bins)
    * (< 100, i.e. < 10⁸ in 1e-6 units, for any physical corpus), so 10⁹
    * strictly sorts above every real value: a ranking dashboard always
    * places total drift first, agreeing with the KS monitor's verdict.
    *
    * Cross-engine determinism (the 4dp-cosine discipline applied to a
    * log): bin assignment is pure integer rank arithmetic, and each
    * bin's double contribution is ROUNDED TO 1e-6 UNITS AND SUMMED AS
    * BIGINT — order-free, so FP reassociation can never diverge the
    * engines. Bins absent from BOTH halves contribute a closed-form
    * constant (smoothed p and q are fixed), applied arithmetically —
    * no (type × bin) grid materialization, no second events scan.
    * Output: (event_type, n1, n2, psi_x1e6).
    *
    * Scale shape: E20's exactly — one narrow scan + a 1-row midpoint
    * broadcast, ONE map-side-partial (type, cents) histogram agg
    * (value-domain sized), then the cumulative/total windows and the
    * two tiny re-aggregations all ride event_type keys over that
    * histogram table.
    */
  def driftPsi(spark: SparkSession, dir: String, bins: Int = 16): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        unix_millis(col("ts")).as("ms"))
    val mid = ev.agg(expr("(min(ms) + max(ms)) div 2").as("mid"))
    psiFromCounts(ev.crossJoin(broadcast(mid))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("ms") < col("mid"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("ms") >= col("mid"), 1L).otherwise(0L)).as("c2")), bins)
  }

  /** The exact-PSI core [[driftPsi]] and the streaming monitor
    * ([[graft.streaming.DriftStream.batchPsi]]) share — the
    * [[ksFromCounts]] pattern applied to E23: input is a two-sample
    * histogram (event_type, cents, c1 = baseline, c2 = current) —
    * value-domain-sized, never event-sized — output one
    * (event_type, n1, n2, psi_x1e6) row per type, with c1 defining the
    * baseline-quantile bin grid. All the determinism/sentinel reasoning
    * lives on [[driftPsi]]'s scaladoc; extracting the core is what makes
    * the streaming monitor's numbers DIRECTLY comparable to the
    * oracle-gated batch query's (one code path, spec-pinned equal).
    *
    * Residual FP risk, accepted deliberately (r18 ADVICE): the 1e-6
    * rounding removes REASSOCIATION divergence (the sum is over exact
    * BIGINTs in any order), but each bin's contribution still computes
    * through the engine's own `ln` — JVM Math.log and DuckDB's libm can
    * disagree in the last ulp, and a contribution landing EXACTLY on a
    * 0.5e-6 boundary could round apart by 1 unit and fail the hash gate
    * intermittently. We accept it rather than widen the gate: the
    * boundary set has measure zero over the integer-count inputs here
    * (18 rounds of gate runs, zero flickers — same risk class as the
    * 4dp-cosine oracles, same standing decision recorded there), and a
    * ±1-tolerant comparison would weaken the gate for every query to
    * absorb a failure mode never observed.
    */
  /** The baseline-quantile two-sample binning [[psiFromCounts]] and
    * [[chi2FromCounts]] share: (event_type, cents, c1, c2) histogram in,
    * per-(type, bin) counts (b1, b2) + per-type totals (n1, n2) out,
    * with c1 (the baseline) defining the equal-mass bin grid.
    */
  private def binnedTwoSample(g: DataFrame, bins: Int): DataFrame = {
    val cum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    g.withColumn("cum1", sum(col("c1")).over(cum))
      .withColumn("n1", sum(col("c1")).over(whole))
      .withColumn("n2", sum(col("c2")).over(whole))
      // rank of values STRICTLY below v in the baseline = cum1 − c1
      .withColumn("bin", when(col("n1") === 0L, lit(0L)).otherwise(
        least(lit(bins - 1L),
          expr(s"($bins * (cum1 - c1)) div n1"))))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("c1")).as("b1"), sum(col("c2")).as("b2"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
  }

  private[graft] def psiFromCounts(g: DataFrame, bins: Int = 16): DataFrame = {
    binnedTwoSample(g, bins)
      .withColumn("p", (col("b1") + 1).cast("double") / (col("n1") + bins))
      .withColumn("q", (col("b2") + 1).cast("double") / (col("n2") + bins))
      .withColumn("contrib",
        expr("CAST(round((p - q) * ln(p / q) * 1000000) AS BIGINT)"))
      // bins with no mass in EITHER half contribute a per-type constant:
      // p0 = 1/(n1+bins), q0 = 1/(n2+bins)
      .withColumn("empty_contrib", expr(
        s"""CAST(round((1.0d / (n1 + $bins) - 1.0d / (n2 + $bins))
           | * ln((CAST(n2 + $bins AS DOUBLE)) / (n1 + $bins))
           | * 1000000) AS BIGINT)""".stripMargin))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        (sum(col("contrib"))
          + (lit(bins.toLong) - count(lit(1))) * max(col("empty_contrib"))).as("psi"))
      .select(col("event_type"), col("n1"), col("n2"),
        when(col("n1") === 0L || col("n2") === 0L, lit(1000000000L))
          .otherwise(col("psi")).as("psi_x1e6"))
  }

  /** E24 — q_drift_chi2: the two-sample Pearson χ² over the same
    * baseline-quantile bins as E23, completing the drift scorecard trio
    * (KS = worst single cdf point, PSI = mass of the shift, χ² = the
    * classical significance-testable statistic dashboards already know
    * how to threshold against a χ²(bins−1) table). Same half-split
    * construction as [[driftPsi]]; shared core below for the streaming
    * twin ([[graft.streaming.DriftStream.batchChi2]]).
    */
  def driftChi2(spark: SparkSession, dir: String, bins: Int = 16): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        unix_millis(col("ts")).as("ms"))
    val mid = ev.agg(expr("(min(ms) + max(ms)) div 2").as("mid"))
    chi2FromCounts(ev.crossJoin(broadcast(mid))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("ms") < col("mid"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("ms") >= col("mid"), 1L).otherwise(0L)).as("c2")), bins)
  }

  /** The exact-χ² core shared by [[driftChi2]] and the streaming monitor
    * — [[psiFromCounts]]'s shape on the contingency-table statistic:
    * expected counts eᵢ = nᵢ·c/N per cell of the 2×bins table, χ² =
    * Σ (O−e)²/e, each bin's contribution rounded to 1e-6 units and
    * BIGINT-summed. DETERMINISM, one class STRONGER than PSI's: the
    * contribution uses only IEEE +,−,×,÷ — operations both engines round
    * identically by spec (no `ln`, so even the accepted last-ulp libm
    * risk is absent); the expression SHAPE below mirrors the oracle SQL
    * token-for-token so association order cannot differ. Bins empty in
    * both halves contribute zero mass exactly (no smoothing — the
    * statistic is already finite there), and an empty half scores the
    * 10⁹ sentinel like PSI (domination note on [[driftPsi]]).
    */
  private[graft] def chi2FromCounts(g: DataFrame, bins: Int = 16): DataFrame = {
    binnedTwoSample(g, bins)
      .withColumn("e1", expr("CAST(n1 AS DOUBLE) * (b1 + b2) / (n1 + n2)"))
      .withColumn("e2", expr("CAST(n2 AS DOUBLE) * (b1 + b2) / (n1 + n2)"))
      .withColumn("contrib", expr(
        """CAST(round((CASE WHEN n1 = 0 OR n2 = 0 THEN 0.0d ELSE
          |  (b1 - e1) * (b1 - e1) / e1 + (b2 - e2) * (b2 - e2) / e2
          |END) * 1000000) AS BIGINT)""".stripMargin))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(col("contrib")).as("chi2"))
      .select(col("event_type"), col("n1"), col("n2"),
        when(col("n1") === 0L || col("n2") === 0L, lit(1000000000L))
          .otherwise(col("chi2")).as("chi2_x1e6"))
  }

  /** The exact-KS core shared by [[driftKs]] and the streaming monitor
    * ([[graft.streaming.DriftStream]]): input is a two-sample histogram
    * (event_type, cents, c1, c2) — value-domain-sized, never event-sized —
    * output one (event_type, n1, n2, ks_ppm) row per type. The cumulative
    * and total windows ride ONE event_type exchange; cross products run in
    * DECIMAL(38,0) per the E14 widening rule (BIGINTs out).
    */
  private[graft] def ksFromCounts(g: DataFrame): DataFrame = {
    val cum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    g.withColumn("cum1", sum(col("c1")).over(cum))
      .withColumn("cum2", sum(col("c2")).over(cum))
      .withColumn("n1", sum(col("c1")).over(whole))
      .withColumn("n2", sum(col("c2")).over(whole))
      .withColumn("d", abs(col("cum1").cast("decimal(38,0)") * col("n2")
        - col("cum2").cast("decimal(38,0)") * col("n1")))
      .groupBy(col("event_type"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("d")).as("dmax"))
      .select(col("event_type"), col("n1"), col("n2"),
        when(col("n1") === 0L || col("n2") === 0L, lit(1000000L))
          .otherwise(expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * dmax) div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"))
          .as("ks_ppm"))
  }

  /** E21 — q_copurchase: market-basket frequent pairs — the top-50 part
    * pairs most often bought together (same order), support ≥ 2; the
    * a-priori/FP-growth first pass every retail/recommendation pipeline
    * runs, and the classic MapReduce pair-counting exercise re-expressed
    * as one declarative plan.
    *
    * Scale shape: pair generation is IN-ROW — each order collapses to a
    * sorted distinct part array (one orderkey exchange, set bounded by the
    * order's line count) and pairs explode from the basket array, never a
    * lineitem self-join (a self-join would re-shuffle the fact and blow up
    * on hot orders before the optimizer could bound it). Fan-out per order
    * is |basket|²/2 with |basket| bounded by maxBasket (pathological
    * mega-orders at 100 TB would otherwise emit 10¹¹ pairs from one row;
    * the cap is semantic — documented — and never binds on TPC-H-shaped
    * baskets). The pair agg is the only other exchange; top-50 plans as
    * TakeOrderedAndProject on the (n desc, p1, p2) total order, so the
    * cutoff is deterministic.
    *
    * Pair generation is two stacked Generates (posexplode + per-element
    * slice) rather than one flatten∘transform comprehension: HOF lambdas
    * evaluate interpreted per row, and the measured A/B (sf0.1
    * best-of-3) has the comprehension at 1.42 s vs 1.06 s for the
    * explode form on identical output — the 0.81 s basket aggregation is
    * the remaining floor.
    */
  def copurchase(spark: SparkSession, dir: String, minSupport: Int = 2,
      topN: Int = 50, maxBasket: Int = 1024): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .where(size(col("ps")).between(2, maxBasket))
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "p1")))
      .select(col("p1"), explode(expr("slice(ps, i + 2, size(ps))")).as("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .where(col("n_orders") >= minSupport)
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(topN)
}
