package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Iterative graph analytics as checkpointed DataFrame passes — the
  * Spark-era successor of the reference's driver-looped MapReduce jobs
  * (examples/.../GameOfLife.java is the reference shape; see also
  * [[Curation.connectedComponents]]).
  */
object Graph {

  /** The symmetric customer↔supplier bipartite graph of the orders —
    * the shared substrate for [[pageRank]] and [[bfs]]. Node ids:
    * custkey·2 / suppkey·2+1 (disjoint even/odd spaces); every undirected
    * edge appears in both directions so out-neighborhood joins see the
    * full adjacency.
    */
  private def bipartiteSym(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val cs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("u"), (col("l_suppkey") * 2 + 1).as("v"))
      .distinct()
    cs.union(cs.select(col("v").as("u"), col("u").as("v")))
  }

  /** E15 — hop-limited BFS (single-source shortest hop counts) over the
    * customer↔supplier graph: dist(id) = unweighted shortest-path length
    * from `source`, nodes beyond `maxHops` omitted. The missing member of
    * the iterative-graph family (PageRank = fixpoint scoring, connected
    * components = global closure, BFS = rooted reachability) — the
    * reference's driver-looped MapReduce idiom again
    * (examples/.../GameOfLife.java), one Spark job chain here.
    *
    * Scale shape: classic frontier BFS as dataflow. The edge list is
    * hash-partitioned on u and checkpointed ONCE; each hop's expansion
    * join probes that stable layout with the (typically broadcast-sized)
    * frontier, so per-hop cost is O(frontier-adjacency), never O(|E|)
    * re-layout — the distinct (keyed on v) and the left_anti against the
    * visited set (keyed on id) are their own small exchanges over
    * frontier-sized data. A fixed hop budget keeps the plan deterministic
    * (no convergence probe job) and lets the oracle's bounded unrolling
    * match exactly. `maxHops = -1` is the production form: run until the
    * frontier empties, probing with one count() per hop against the
    * already-checkpointed frontier (the count materializes blocks the
    * next hop reuses, so the probe's marginal cost is the count itself —
    * GraphSpec pins unbounded ≡ a generous fixed budget on the real
    * graph). Visited/dist stay distributed throughout (no driver
    * materialization); per-hop lazy localCheckpoints cut lineage so the
    * plan is O(1) deep at any hop count.
    */
  def bfs(spark: SparkSession, dir: String, source: Long = 2L,
      maxHops: Int = 4): DataFrame = {
    val edges = bipartiteSym(spark, dir).repartition(col("u")).localCheckpoint()
    var dist = spark.range(1).select(lit(source).as("id"), lit(0L).as("dist"))
    var frontier = dist.select(col("id"))
    var h = 1
    var exhausted = false
    while (!exhausted && (maxHops < 0 || h <= maxHops)) {
      val next = edges.join(frontier.withColumnRenamed("id", "u"), "u")
        .select(col("v").as("id")).distinct()
        .join(dist.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(h.toLong).as("dist"))
        .localCheckpoint(false)
      if (maxHops < 0 && next.count() == 0) exhausted = true
      else {
        // dist is a UNION of already-checkpointed per-hop levels — no
        // checkpoint of the union itself: re-storing levels 0..h at every
        // hop materialized O(hops²) level copies for a plan that is
        // already O(1)-deep per leaf. r20 A/B (same-window, canary q5):
        // sf0.1 best-of-4 2.499→2.194 s (−12 %, canary flat); sf1
        // flat-within-noise across two window pairs; stored level rows
        // drop from Σ_h h·|level| to Σ_h |level| at any scale. Values
        // identical, oracle re-verified.
        dist = dist.union(next)
        frontier = next.select(col("id"))
        h += 1
      }
    }
    dist
  }

  /** PageRank in EXACT integer arithmetic (scores scaled ×10⁶, floor
    * division everywhere): score' = 0.15·10⁶ + (85 · Σ score(u)/deg(u))/100
    * with `div`, so a fixed iteration count yields bit-identical scores on
    * any engine — no FP accumulation to diverge (same device as the
    * integer tf-idf).
    *
    * Graph: the customer↔supplier bipartite graph of the orders, made
    * symmetric so every node has out-degree ≥ 1 (no dangling-mass term).
    * Node ids: custkey·2 / suppkey·2+1.
    *
    * Scale shape: the edge list with its out-degree folded in,
    * `(u, v, deg)`, is built ONCE and localCheckpoint'd; each iteration is
    * exactly one join (scores on u — both sides hash-partitioned on u, and
    * AQE reuses the partitioning) + one aggregation by v, with a bounded
    * checkpoint cadence (every 5 passes + the final one) so lineage depth
    * is capped for any iteration count. That is the classic
    * pregel-as-dataflow layout: at 100 TB the edge table partitioning is
    * the stable asset every pass reuses.
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val sym = bipartiteSym(spark, dir)
    // hash-partition AND sort by u BEFORE checkpointing: localCheckpoint
    // preserves outputPartitioning/outputOrdering, so every iteration's
    // join reuses the layout — only the (small) score side moves. Without
    // this the checkpointed edges have default (huge) stats and each pass
    // re-shuffles + re-sorts the full edge table (measured ~2× slower).
    // Out-degree folds in as a partition-only window riding that SAME
    // exchange — a separate groupBy+join costed an extra agg and broadcast
    // (measured 1.8→1.3 s at sf0.1 for the edge build).
    val edges = sym.repartition(col("u"))
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("u")))
      .sortWithinPartitions("u")
      .localCheckpoint()
    // init rides the checkpointed edges — re-deriving from deg would replay
    // the whole graph-construction join
    var scores = edges.select(col("u").as("id")).distinct()
      .withColumn("score", lit(1000000L))
    // Per-pass LAZY checkpoints: lineage is cut every pass (plans stay O(1)
    // for any iteration count) but nothing materializes until the single
    // final action — no per-iteration job barrier.
    for (i <- 1 to iters) {
      scores = edges.join(scores.withColumnRenamed("id", "u"), "u")
        .select(col("v"), expr("score div deg").as("c"))
        .groupBy(col("v").as("id"))
        .agg((lit(150000L) + expr("(85 * sum(c)) div 100")).as("score"))
        .select(col("id"), col("score"))
      // Checkpoint cadence: every 5 passes, ALWAYS including the
      // last (a caller running multiple actions on the result otherwise
      // replays the final join+agg on top of the previous checkpoint each
      // time). Lazy, so single-action callers still see exactly one job.
      // r10's per-pass cadence was re-A/B'd in r20 (OPTIMIZATION_r20.md,
      // hashes identical): per-pass materializes a |V|-row block set per pass that
      // the next pass immediately supersedes — cadence 5 measured 2.68→2.09 s
      // at sf0.1 and 11.27→7.40 s at sf1 (best-of-N, one window each). The
      // cadence still bounds lineage depth at 5 joins for any `iters`, so
      // plans stay O(1)-ish and failure replay is capped.
      if (i % 5 == 0 || i == iters)
        scores = scores.localCheckpoint(false)
    }
    scores
  }

  /** Triangle enumeration over the near-dup pair graph ([[Dedup
    * .minhashLsh]]) — the graph-analytics staple for measuring cluster
    * density (near-dup components are clique unions, so triangle counts
    * audit how "cliquey" the dedup graph really is).
    *
    * Scale design: DEGREE-ORDERED orientation [Ortmann & Brandes 2014's
    * framing of the classic result]: every edge points from its
    * lower-(deg, id) endpoint to the higher, so wedges are only enumerated
    * at each triangle's unique (deg, id)-minimum apex — total wedge work is
    * O(m^1.5) on ANY degree distribution, where id-ordered orientation
    * explodes on a low-id hub. The order key packs (deg, id) into one long
    * (deg · 10⁷ + id — exact while ids < 10⁷, which the doc_id space
    * guarantees here); join fan-out is bounded by the oriented out-degrees
    * ≤ O(√m). Output: one row per triangle, vertices sorted by doc_id.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(Dedup.minhashLsh(spark, dir)
      .select(col("d1").as("u"), col("d2").as("v"))
      .localCheckpoint()) // the LSH pipeline runs once, not 3× below

  /** Core enumeration over canonical undirected edges (`u < v`, distinct —
    * exactly what the verified LSH pairs provide; callers with raw edge
    * lists canonicalize first). Ids must stay < 10⁷ for the packed
    * (deg, id) key.
    */
  def trianglesOf(pr: DataFrame): DataFrame = {
    val sym = pr.union(pr.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val keyed = pr
      .join(deg.select(col("id").as("u"), (col("deg") * 10000000L + col("u")).as("ku")), "u")
      .join(deg.select(col("id").as("v"), (col("deg") * 10000000L + col("v")).as("kv")), "v")
    // materialize oriented ONCE: without this the wedge self-join rebuilds
    // the 3-join orientation subtree per side (explain showed the whole
    // chain duplicated, zero reuse) — at scale that doubles the O(m) build.
    // Best-of-5 A/B: plain checkpoint 0.871 s (= recompute locally, but
    // half the work at scale); + repartition(s) 0.932 s (barrier outweighs
    // the saved self-join exchange), so no pre-partitioning.
    val oriented = keyed.select(
      when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("s"),
      when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("apex"), col("e1.t").as("x"), col("e2.t").as("y"))
    wedges
      .join(pr, col("u") === least(col("x"), col("y")) &&
        col("v") === greatest(col("x"), col("y")))
      .select(
        least(col("apex"), col("x"), col("y")).as("t1"),
        (col("apex") + col("x") + col("y") - least(col("apex"), col("x"), col("y"))
          - greatest(col("apex"), col("x"), col("y"))).as("t2"),
        greatest(col("apex"), col("x"), col("y")).as("t3"))
  }
}
