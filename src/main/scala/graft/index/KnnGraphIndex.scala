package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.Ann
import graft.tables.{ServedParquet, Tables}

/** Persisted corpus kNN edge list — the build/query split applied to the
  * a18 graph (reference analogue: Qdrant builds its HNSW neighbor lists
  * once at indexing time, `scripts/indexing.py:326-340`; every similarity
  * traversal afterwards reads the prebuilt adjacency, never re-scores the
  * corpus).
  *
  * The kNN graph is the single most expensive derived structure in the
  * suite (corpus × nprobe candidate join), and it feeds TWO consumers:
  * the a18 edge-list query itself and a19's SemDeDup-style clustering
  * (connected components over the high-similarity edges). Before this
  * artifact, a19 re-derived the whole edge set inside its own plan —
  * doubling the most expensive computation in the suite. Now the graph is
  * built at most once per (dataset, nprobe, k) and both consumers read
  * the parquet artifact; at cluster scale this is the difference between
  * "every downstream analytic re-joins 100 TB" and "the nightly graph
  * build amortizes across all of them".
  *
  * Values are bit-identical to the inline plan: scores were already
  * rounded to 6 dp doubles before the window rank, and parquet round-trips
  * doubles exactly, so consumers' oracle hashes are unchanged. Ordering is
  * NOT preserved by the parquet round-trip; consumers re-apply their own
  * ORDER BY (a18 does, a19's CC is order-insensitive).
  */
object KnnGraphIndex {

  /** Edge list (src, dst, score, rank) for `dataDir`'s embeddings table,
    * built at most once. Centroid rule (first 10 stored vectors) mirrors
    * the a1/a18 oracle so the artifact stays engine-independent.
    *
    * Layout: range-partitioned + sorted by `src`, so every file and every
    * parquet row group carries a tight min/max `src` range. Scan-style
    * consumers (a18/a19, the one-plan walks) are unaffected — they read
    * the whole artifact and re-apply their own ordering — but a pushed
    * `src IN (frontier)` predicate (the [[Ann.graphTopKSeek]] serving
    * path) skips every row group outside the frontier's ranges: the
    * per-hop read is O(frontier) row groups, not O(corpus). At 100 TB
    * that is the difference between a walk hop doing point lookups and
    * re-scanning the whole adjacency each hop. */
  /** Coarse-layer sampling modulus shared by every hierarchical-entry
    * consumer of this artifact (a24/a25/a26/a27, `/api/similar-vectors`,
    * the filtered-ANN router's post side). */
  val CoarseMod = 16

  private def ensureDir(spark: SparkSession, dataDir: String,
                        nprobe: Int, k: Int): String = {
    // v2 (`_srt2`): + the persisted coarse entry layer — the inline
    // `vec_id % 16` filter can't prune row groups, so entry selection
    // READ the whole embeddings table per query before this artifact
    val name = s"knn_graph_n${nprobe}_k${k}_srt2"
    IndexCatalog.ensure(spark, dataDir, name) { out =>
      val emb = Tables.embeddings(spark, dataDir)
      val centroids = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Ann.knnGraph(emb, centroids, nprobe, k)
        .repartitionByRange(8, col("src"))
        .sortWithinPartitions(col("src"), col("rank"))
        .write.mode(SaveMode.Overwrite)
        // small row groups => fine-grained min/max pruning for the seek
        // path even on modest corpora (default 128 MiB groups would put
        // the whole sf0.1 artifact in one group and prune nothing)
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(s"$out/edges")
      emb.where(pmod(col("vec_id"), lit(CoarseMod)) === lit(0))
        .select(col("vec_id"), col("embedding"))
        .repartitionByRange(2, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$out/coarse")
    }
  }

  def edges(spark: SparkSession, dataDir: String,
            nprobe: Int = 3, k: Int = 5): DataFrame =
    ServedParquet.read(spark, s"${ensureDir(spark, dataDir, nprobe, k)}/edges")

  /** The prebuilt coarse entry layer (vec_id % CoarseMod == 0 subset of
    * the embeddings table) — 1/CoarseMod of the corpus as I/O for every
    * walk's entry selection ([[Ann.hierEntriesFrom]] scaladoc). */
  def coarse(spark: SparkSession, dataDir: String,
             nprobe: Int = 3, k: Int = 5): DataFrame =
    ServedParquet.read(spark, s"${ensureDir(spark, dataDir, nprobe, k)}/coarse")
}
