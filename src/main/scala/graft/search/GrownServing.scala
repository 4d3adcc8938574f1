package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.IncrementalKnn

/** Per-process serving state for an incrementally-GROWN kNN graph root —
  * the "resolve once per session" half of the freshness story (r10
  * VERDICT #2: the grown walk re-resolved ledger/segment state
  * inside every hop's job, making `s28b_graph_grown` the most expensive
  * s-query at a varying job count; with this state it runs 2.29 s →
  * 0.39 s at sf0.1 with a stable job count).
  *
  * What a grown-root read costs per call without this: [[IncrementalKnn
  * .edges]]/[[IncrementalKnn.vectorsAll]]/[[IncrementalKnn.coarseAll]]
  * each re-probe the commit markers, re-read the tombstone ledger, and
  * re-build the per-segment union plan — and the seek walk then executes
  * that whole subtree once per hop. A server does this ONCE: the three
  * merged frames resolve against the root's mutation clock
  * ([[IncrementalKnn.stateVersions]] — index segments, tombstone ledger,
  * repair ledger) and live in [[ServingCache]] (persisted RAM-resident,
  * re-validated with three FS probes per request). Any mutation —
  * append, delete, upsert, repair, fold — bumps
  * one of the three clocks, and the next request rebuilds the state and
  * unpersists the stale frames, so freshness stays "one trigger
  * interval", exactly as before; only the per-request re-resolution is
  * gone. */
object GrownServing {

  final case class State(root: String, clock: (Int, Int, Int),
                         edges: DataFrame, vectors: DataFrame,
                         coarse: DataFrame)

  /** Resolved + warmed serving frames for `root` (graph degree `k`),
    * rebuilt iff the root's mutation clock moved since the cached
    * resolve. */
  def of(spark: SparkSession, root: String, k: Int): State = {
    val clock = IncrementalKnn.stateVersions(root)
    val Seq(e, v, c) = ServingCache.frames(s"grown:$root#k=$k", clock) {
      Seq(IncrementalKnn.edges(spark, root, k),
        IncrementalKnn.vectorsAll(spark, root),
        IncrementalKnn.coarseAll(spark, root))
    }
    State(root, clock, e, v, c)
  }

  /** Drop every cached root's frames (serving-cache clear — the
    * `DELETE /api/search/cache` surface). Clears the WHOLE serving
    * cache, one-shot artifacts included, matching the reference's
    * clear-all semantics. */
  def clear(): Unit = ServingCache.clear()
}
