package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup.{barrier, releaseBarrier}

/** Link-graph analytics for corpus quality weighting.
  *
  * Web-pipeline provenance: Common Crawl ranks hosts by centrality over
  * the domain link graph and CCNet/RefinedWeb-class pipelines use those
  * ranks as document quality priors. This module provides the same step
  * over any edge list this engine produces — most usefully the near-dup
  * graph (`Dedup.simhashPairs` / `minhashLsh`), where central documents
  * are canonical sources and peripheral ones are mirrors.
  *
  * Determinism discipline (see Queries.scala): per-iteration ranks are
  * rounded to 12dp, every float summation is an ordered fold (sort, then
  * left fold), and the final rank is rounded to 6dp — so the fixpoint
  * trajectory is bit-identical on any engine and any partitioning, and a
  * DuckDB oracle can replay the iterations CTE by CTE.
  */
object Graph {

  private val orderedSum =
    "aggregate(array_sort(collect_list(w)), cast(0 as double), (a, x) -> a + x)"

  /** PageRank over a directed edge list, fixed iteration count.
    *
    *   r₀(v)   = 1/N
    *   rₜ₊₁(v) = (1−d)/N + d·( Σ_{u→v} rₜ(u)/outdeg(u) + Dₜ/N )
    *
    * where N = |nodes seen in the edge list| and Dₜ = Σ rₜ(u) over
    * dangling nodes (no out-edges) — the standard uniform-redistribution
    * fix, so Σ r stays 1 and the result is a probability vector.
    *
    * Shape at scale: edges and out-degrees materialize once; each
    * iteration is ONE shuffle (contribution sum keyed by dst) plus a
    * broadcast of two 1-row aggregates (N, dangling mass) that ride the
    * same plan — no driver-side collect anywhere. Rank frames are
    * barriered per round (same trade/disclosure as the CC loop in
    * Dedup.connectedComponents): O(iters) rounds, each over node-sized
    * data, never edge² — at 100 TB the cost is iteration count, not
    * fan-out. Convergence is fixed-step (pipelines budget a constant
    * 3-10 rounds), not residual-tested: a residual test would add an
    * action per round for no curation benefit.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    // The edge frame is hash-laid-out (and sorted) by src ONCE and
    // PERSISTED (r16, guide §2.4 — same trade as
    // Dedup.connectedComponents' edge cache): the per-iteration
    // contribution join keys on src, so at scale — where node-sized
    // ranks cannot broadcast and the join plans as SMJ — the
    // corpus-pair-scale edge list is never re-shuffled or re-sorted per
    // round, and the out-degree aggregation below reuses the same
    // layout exchange-free. persist (not the localCheckpoint barrier —
    // a checkpoint drops outputPartitioning, an InMemoryRelation keeps
    // it) also KEEPS lineage, so fault tolerance is strictly better
    // than the old barrier in default mode; unpersisted after the loop
    // (every round's rank frame is barriered, so the result no longer
    // references e).
    val e = edges.select(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = barrier(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    val nn = nodes.agg(count(lit(1)).cast("double").as("nn"))
    val deg = barrier(e.groupBy("src").agg(count(lit(1)).as("outdeg")))

    // Node STATICS ride the rank frame (r15, guide §2.4): outdeg, the
    // dangling flag, and the N constant are per-node invariants — joining
    // deg and anti-joining the dangling set EVERY round re-derived them 5×.
    // Computed once here, they travel through each barrier as extra
    // columns, so a round needs only: one edge⋈rank join, ONE
    // contribution shuffle, one filter-aggregate for the dangling mass.
    // Values are bit-identical: same rows reach the same ordered folds.
    var ranks = barrier(nodes
      .join(deg.select(col("src").as("id"), col("outdeg")), Seq("id"), "left")
      .crossJoin(broadcast(nn))
      .select(col("id"), round(lit(1.0) / col("nn"), 12).as("r"),
        col("outdeg"), col("outdeg").isNull.as("dangling"), col("nn")))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks.select(col("id").as("src"),
          (col("r") / col("outdeg")).as("w")), Seq("src"))
        .select(col("dst").as("id"), col("w"))
        .groupBy("id")
        .agg(expr(orderedSum).as("cs"))
      val dm = ranks.where(col("dangling"))
        .select(col("r").as("w"))
        .agg(coalesce(expr(orderedSum), lit(0.0)).as("dm"))
      val next = barrier(ranks.select(col("id"), col("outdeg"),
          col("dangling"), col("nn"))
        .join(contrib, Seq("id"), "left")
        .crossJoin(broadcast(dm))
        .select(col("id"),
          round(lit(1.0 - damping) / col("nn") +
            lit(damping) * (coalesce(col("cs"), lit(0.0)) + col("dm") / col("nn")),
            12).as("r"),
          col("outdeg"), col("dangling"), col("nn")))
      releaseBarrier(ranks)
      ranks = next
    }
    e.unpersist(blocking = false)
    ranks.select(col("id"), round(col("r"), 6).as("rank"))
  }

  /** Degree centrality per node over a directed edge list: in/out degree
    * and total — the zero-iteration companion to [[pageRank]] (one
    * aggregation per direction, union-merged; integer-exact). */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("id"), lit(1L).as("o"), lit(0L).as("i"))
      .unionByName(edges.select(col(dstCol).cast("long").as("id"),
        lit(0L).as("o"), lit(1L).as("i")))
      .groupBy("id")
      .agg(sum("o").as("out_degree"), sum("i").as("in_degree"))
      .withColumn("degree", col("out_degree") + col("in_degree"))

  /** Per-node triangle participation over an UNDIRECTED unique pair list
    * (`aCol < bCol`, no duplicates) — the local clustering signal
    * (spam-farm detection, community cores) next to [[degrees]].
    *
    * Algorithm: degree-ordered edge orientation (Suri–Vassilvitskii MR
    * triangle counting) — each edge points at its (degree, id)-larger
    * endpoint, so every wedge is enumerated at its lowest-degree apex and
    * each triangle is found EXACTLY once. The orientation is what makes
    * this survive skew at 100 TB: a hub of degree d contributes wedge
    * pairs only from its (few) out-edges toward higher-degree nodes, not
    * the d² a naive neighbor self-join would expand.
    *
    * Shape: one degree agg, one orientation join, one wedge self-join on
    * the apex, one closure semi-join against the undirected set, one
    * per-node roll-up — all equi-joins on ids, everything map-side
    * combinable, integer-exact throughout. */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // The pair pipeline feeds FOUR consumers (deg, the orientation join,
    // both closure directions) and the oriented edge list feeds the wedge
    // self-join twice — without the barriers the (potentially expensive)
    // upstream candidate generation re-runs per consumer (measured ~4×
    // the pairs cost on g3 at sf0.1). Pair-scale materialization, the
    // same trade [[graft.dedup.Dedup.connectedComponents]] documents.
    // The result is returned lazily, so these three barriers cannot be
    // released here (the caller's action still needs them); the
    // ContextCleaner / checkpoint GC reclaims them once the result is
    // unreachable.
    val und = barrier(pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v")))
    val deg = barrier(
      und.select(col("u").as("id")).union(und.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg")))
    val e = barrier(und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t")))
    val wedges = e.select(col("s"), col("t").as("t1"))
      .join(e.select(col("s"), col("t").as("t2")), Seq("s"))
      .where(col("t1") < col("t2"))
    // closure probe against BOTH directions: the closing edge's own
    // orientation is irrelevant to the wedge's apex
    val closing = und.select(col("u").as("t1"), col("v").as("t2"))
      .unionByName(und.select(col("v").as("t1"), col("u").as("t2")))
    val tri = wedges.join(closing, Seq("t1", "t2"), "left_semi")
    val perNode = tri
      .select(explode(array(col("s"), col("t1"), col("t2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }
}
