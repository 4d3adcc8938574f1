package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Store
import graft.search.Ann
import graft.tables.Tables

/** Incrementally-maintainable IVF index — the DENSE twin of
  * [[IncrementalBm25]] (the reference's delta imports upsert only changed
  * points into Qdrant's HNSW graph, `scripts/indexing.py:214-260`; a full
  * IVF rebuild per delta is the thing a 100 TB vector corpus can never
  * afford).
  *
  * The split is even cleaner than BM25's: IVF assignment of a vector
  * depends ONLY on the (frozen-at-init) centroid set, never on corpus
  * statistics — so a segment of assigned vectors is immutable AND the
  * union of segment assignments is bit-identical to a whole-corpus
  * rebuild against the same centroids. No per-append stats rewrite is
  * needed at all; the versioned half reduces to the commit marker itself:
  *
  *   - `centroids/`      written once at init, immutable thereafter.
  *   - `seg/<k>/`        (vec_id, embedding) PARTITIONED BY cid — probing
  *                       reads only the probed lists of each segment.
  *   - `commit/v=<k>/`   empty version dirs: `_COMMITTED` (atomic marker)
  *                       plus optional `_tag_*` idempotence tags.
  *
  * An append writes its segment FIRST and publishes `commit/v=<k+1>`
  * last, so a crash (or concurrent reader) between the two sees the old
  * version and ignores the half-appended segment. Queries read segments
  * `0..v-1`; scoring goes through the same [[Ann.ivfTopKAssigned]] plan
  * as the monolithic index, so a grown index returns HASH-EXACT the
  * results of a from-scratch build (IndexSpec pins it; the a17 oracle is
  * the same whole-corpus IVF SQL as a1's).
  *
  * Drift caveat (design note for 100 TB): frozen centroids mean list-size
  * balance degrades as the ingested distribution drifts; the production
  * answer is periodic re-train + full rebuild into a fresh root (the
  * [[compact]] mechanics with new centroids), swapped behind the same
  * publish-last discipline.
  */
object IncrementalIvf extends SegmentedRoot("commit", "seg/", Seq("seg")) {

  val Name = "ivf_inc_v1"

  private def segDir(root: String, k: Int) = s"$root/seg/$k"
  /** Assigned (vec_id, embedding, cid) rows as one cid-partitioned
    * segment dir. */
  private def writeAssigned(rows: DataFrame, path: String): Unit =
    rows.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("cid")
      .parquet(path)

  private def writeSegment(vectors: DataFrame, centroids: DataFrame,
                           root: String, seg: Int): Unit =
    writeAssigned(Ann.ivfAssign(vectors, centroids), segDir(root, seg))

  /** Freeze `centroids` (cid, cvec) and write segment 0 from `vectors`
    * (vec_id, embedding). `tag` is an optional idempotence tag committed
    * atomically with the version. Like every mutator here, runs under
    * the root's writer lease ([[SegmentStore.withWriterLease]] — the
    * single-writer contract, checked). */
  def init(vectors: DataFrame, centroids: DataFrame, root: String,
           tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "ivf-init") {
      centroids.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$root/centroids")
      writeSegment(vectors, readCentroids(vectors.sparkSession, root), root, 0)
      SegmentStore.publish(commitBase(root), 1, tag)
    }

  /** Append a delta of new vectors as the next segment, assigned against
    * the frozen centroids. Vec ids must be unseen-or-tombstoned
    * (replacing a LIVE vector in place is [[upsert]]; dead rows reclaim
    * at [[compact]]). */
  def append(delta: DataFrame, root: String,
             tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "ivf-append") {
      requireInit(root)
      val at = committed(root)
      writeSegment(delta, readCentroids(delta.sparkSession, root), root,
        at.nextPhysical)
      publishAppend(root, at, tag)
    }

  def readCentroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/centroids")

  /** Explicit segment schema: partition-value inference would type the
    * cid dirs as INT, and the resulting cast(cid as bigint) under the
    * probe join lands on the SCAN side — killing dynamic partition
    * pruning. Pinning cid to long keeps the join key the raw partition
    * column (PlanShapeSpec asserts the pruning subquery). */
  private val segSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("cid",
      org.apache.spark.sql.types.LongType)))

  /** Mark vectors DELETED — mark-and-filter like [[IncrementalKnn
    * .delete]], but here exclusion IS full rebuild semantics: IVF
    * assignment is per-vector independent (frozen centroids), so the
    * filtered read equals an index rebuilt without the deleted vectors —
    * no staleness caveat at all. The tombstone carries a HORIZON (the
    * current segment count), so a later re-insert of the same id — a new
    * document, or [[upsert]]'s new version — serves from its own segment
    * (Lucene delete-then-add). [[compact]]/[[retrain]] read through the
    * filter, so they physically reclaim the rows and their fresh roots
    * start with a clear ledger. Idempotent via `tag`. */
  def delete(ids: DataFrame, root: String, tag: Option[String] = None): Unit =
    commitDelete(ids, "vec_id", root, "ivf-delete", tag)

  /** UPSERT — update vectors IN PLACE by id (Qdrant's point overwrite):
    * a versioned tombstone kills the old rows at their horizon, the
    * same-id append serves the new version from its own segment on. For
    * IVF this is EXACT from the same call — assignment is per-vector
    * independent, so the filtered read equals a rebuild with the current
    * vectors (no stale candidate pairs exist to repair; `a17c` states it
    * in SQL). Idempotent via `tag`. */
  def upsert(delta: DataFrame, root: String,
             tag: Option[String] = None): Unit =
    commitUpsert(delta, "vec_id", root, "ivf-upsert", tag)(append(delta, root, tag))

  /** Union of all committed segments — schema (cid, vec_id, embedding),
    * each segment's probed lists pruned at scan time by the caller's cid
    * predicate (partition dirs). */
  def readAssigned(spark: SparkSession, root: String): DataFrame = {
    requireInit(root)
    // one read per segment root (each is its own cid-partitioned table —
    // a single multi-path read would refuse to infer the partitioning),
    // unioned with per-row LOGICAL segment provenance: the cid probe
    // predicate pushes into EVERY arm's partition filters, so each
    // segment still prunes to its probed list dirs. The segment list
    // comes from the committed manifest when one exists (post-fold
    // roots); ledger segments a full fold absorbed are skipped.
    filterTombs(spark, root, readSegs(spark, root, committed(root).entries),
      Seq("vec_id")).drop("__seg")
  }

  private def readSegs(spark: SparkSession, root: String,
                       entries: Seq[SegmentStore.ManifestEntry]): DataFrame =
    readTagged(entries) { k =>
      val p = segDir(root, k.toInt)
      spark.read.option("basePath", p).schema(segSchema).parquet(p)
    }

  /** IVF top-k across all committed segments — the same
    * [[Ann.ivfTopKAssigned]] plan as the monolithic index, so results are
    * hash-exact vs a full rebuild against the same centroids. */
  def topK(spark: SparkSession, root: String, queryVec: DataFrame,
           nprobe: Int, k: Int): DataFrame =
    Ann.ivfTopKAssigned(readAssigned(spark, root),
      readCentroids(spark, root), queryVec, nprobe, k)

  /** Fold all committed segments into a single fresh segment under
    * `newRoot` (assignment rows are the same multiset, so served scores
    * are hash-identical), re-publishing the frozen centroids as-is. The
    * old root stays readable throughout; callers swap the root pointer
    * when done — the standard LSM tail-fold, same as the sparse twin.
    * Reads through the tombstone filter, so deleted vectors are
    * physically dropped and the fresh root starts with a clear ledger. */
  def compact(spark: SparkSession, root: String, newRoot: String,
              tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "ivf-compact") { // quiesce the
      requireInit(root) // source: a delete committed mid-read would vanish
      readCentroids(spark, root).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$newRoot/centroids")                 // from the fresh
      writeAssigned(readAssigned(spark, root), segDir(newRoot, 0)) // clear-
      // ledger root
      SegmentStore.publish(commitBase(newRoot), 1, tag)
    }

  /** Size-tiered auto-compaction trigger (see
    * [[IncrementalBm25.compactIfNeeded]] — same policy, same pointer-swap
    * contract): fold when segment fan-in exceeds `maxSegments`, return
    * the root to read from. */
  def compactIfNeeded(spark: SparkSession, root: String,
                      maxSegments: Int, tag: Option[String] = None): String =
    SegmentStore.compactIfNeeded(root, version(root), maxSegments)(
      compact(spark, root, _, tag = tag))

  /** TAIL-FOLD: fold every segment past the first `keep` into ONE fresh
    * physical segment IN THIS ROOT, leaving the prefix untouched — the
    * bounded-write-amplification compaction docs/PLANS.md designed
    * (size-tiered folds rewrite the small recent tail; the big old
    * prefix is REFERENCED by the new manifest, not rewritten). Write
    * cost is O(tail bytes); [[compact]]'s full fold — still the deep
    * clean that reclaims prefix tombstones and resets storage into a
    * fresh root — stays O(corpus), which is exactly why a steady-state
    * 100 TB ingest runs THIS between rare deep cleans. All tombstones
    * visible at fold time are APPLIED to the folded rows; the horizon
    * algebra that keeps that sound without a ledger rewrite, the commit,
    * the crash windows and the retain-one-generation GC are
    * [[SegmentedRoot]]'s fold. Idempotent via `tag`; runs under the
    * root's writer lease. */
  def tailFold(spark: SparkSession, root: String, keep: Int = 1,
               tag: Option[String] = None): Unit = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    commitFold(root, keep, tag, "ivf-tail-fold") { slot =>
      writeAssigned(filterTombs(spark, root, readSegs(spark, root, slot.tail),
          Seq("vec_id")).select(col("vec_id"), col("embedding"), col("cid")),
        segDir(root, slot.at.nextPhysical))
      slot.folded()
    }
  }

  /** Size-tiered trigger for [[tailFold]] — [[SegmentedRoot.foldOnFanIn]]
    * over the live segment sizes. */
  def tailFoldIfNeeded(spark: SparkSession, root: String, maxSegments: Int,
                       keep: Int = 1,
                       tag: Option[String] = None): Option[String] =
    foldOnFanIn(root, maxSegments, keep)(tailFold(spark, root, _, tag))

  /** Centroid RETRAIN — the production answer to the frozen-centroid
    * drift caveat in the object doc: re-fit kmeans centroids on the
    * CURRENT corpus (union of all committed segments), reassign every
    * vector against them, and publish the result as a fresh single-
    * segment root. The old root stays readable throughout and callers
    * swap their pointer when done — compaction with new centroids, behind
    * the same publish-last discipline. Served results are exactly a
    * from-scratch trained build over the same corpus (same kmeans path
    * as [[IvfIndex.buildTrained]], same [[Ann.ivfAssign]] arithmetic —
    * IndexSpec pins retrained ≡ rebuilt). */
  def retrain(spark: SparkSession, root: String, newRoot: String,
              k: Int): Unit = SegmentStore.withWriterLease(root, "ivf-retrain") {
    requireInit(root)
    val corpus = readAssigned(spark, root)
      .select(col("vec_id"), col("embedding"))
    val assembled = corpus.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col("embedding")))
    val model = MlIndex.fitIvfCentroids(assembled, k)
    import spark.implicits._
    init(corpus, model.clusterCenters.zipWithIndex.map {
      case (c, i) => (i.toLong, c.toArray.map(_.toFloat))
    }.toSeq.toDF("cid", "cvec"), newRoot)
  }

  /** Drift-triggered retrain — wires the a22 list-balance monitor to
    * [[retrain]]: when the worst list's balance (n·lists/total, the a22
    * definition — 1.0 is perfectly even) exceeds `maxBalance`, re-fit
    * into a fresh versioned sibling and return it for the caller to swap
    * its pointer to; otherwise return `root` unchanged. The balance scan
    * is one map-side-combined count over the assignment (list-count
    * rows to the driver, never vectors). `lists` is the CENTROID count,
    * not the non-empty-list count — a fully-collapsed assignment (every
    * vector in one list) must read as worst-case k, not as a perfectly
    * balanced single list. */
  def retrainIfImbalanced(spark: SparkSession, root: String, k: Int,
                          maxBalance: Double): String = {
    val lists = readCentroids(spark, root).count()
    val counts = readAssigned(spark, root)
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("maxN"), sum(col("n")).as("total"))
      .head()
    val worst = counts.getLong(0).toDouble * lists / counts.getLong(1)
    if (worst <= maxBalance) root
    else {
      val newRoot = s"$root-r${version(root)}"
      retrain(spark, root, newRoot, k)
      newRoot
    }
  }

  /** Ensure an incrementally-GROWN embeddings index for `dataDir`: half
    * the vectors at init, the rest appended — exercising the real
    * maintenance path while staying oracle-checkable against the same
    * whole-corpus IVF SQL as a1 (centroids = stored vectors 0..9, the
    * engine-independent choice the DuckDB oracle can replay). */
  def ensure(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, Name)(grown(spark, dataDir, _, parts = 2))

  /** The oracle fixtures' grown index at `p` (centroids = stored vectors
    * 0..9; init + appends by vec_id % `parts`); returns the embeddings. */
  private def grown(spark: SparkSession, dataDir: String, p: String,
                    parts: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dataDir)
    init(emb.where(col("vec_id") % parts === 0), emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")), p)
    (1 until parts).foreach(i => append(emb.where(col("vec_id") % parts === i), p))
    emb
  }

  val UpsertName = "ivf_upsert_v1"

  /** [[ensure]]'s grown index with a same-id UPSERT applied — memoized
    * for the `a17c_ivf_upsert` oracle: every vec_id % 11 == 5 (with a +1
    * neighbor) takes its neighbor's embedding in place; the filtered
    * read must equal a17's IVF SQL over the CURRENT vectors (frozen
    * original centroids). */
  def ensureUpserted(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, UpsertName) { p =>
      val emb = grown(spark, dataDir, p, parts = 2)
      val updated = emb.as("a")
        .join(emb.select(col("vec_id").as("nid"),
          col("embedding").as("nemb")), col("a.vec_id") + 1 === col("nid"))
        .where(pmod(col("a.vec_id"), lit(11)) === 5)
        .select(col("a.vec_id").as("vec_id"), col("nemb").as("embedding"))
      upsert(updated, p, tag = Some("demo_upsert"))
    }

  val TailFoldName = "ivf_tailfold_v1"

  /** Grown index with a delete + a same-id upsert applied and then a
    * TAIL-FOLD (keep = 1: segments 1..3 fold into one, the init segment
    * untouched) — memoized for the `a31_ivf_tailfold` oracle: the fold
    * is pure reorganization, so the read must STILL equal a17's IVF SQL
    * over the current vectors (deleted dropped, upserted replaced —
    * non-overlapping sets so the oracle composes the two WHEREs). */
  def ensureTailFolded(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, TailFoldName) { p =>
      val emb = grown(spark, dataDir, p, parts = 3)
      delete(emb.where(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")), p, tag = Some("demo_tf_delete"))
      val updated = emb.as("a")
        .join(emb.select(col("vec_id").as("nid"),
          col("embedding").as("nemb")), col("a.vec_id") + 1 === col("nid"))
        .where(pmod(col("a.vec_id"), lit(11)) === 5 &&
          pmod(col("a.vec_id"), lit(7)) =!= 3)
        .select(col("a.vec_id").as("vec_id"), col("nemb").as("embedding"))
      upsert(updated, p, tag = Some("demo_tf_upsert"))
      tailFold(spark, p, keep = 1, tag = Some("demo_tf_fold"))
    }

  val TombName = "ivf_tomb_v1"

  /** [[ensure]]'s grown index with a committed tombstone segment on top
    * (vec_id % 7 == 3 deleted) — memoized for the `a17b_ivf_tombstone`
    * oracle: IVF exclusion IS rebuild semantics (see [[delete]]), so the
    * oracle is a17's SQL with the deleted vectors dropped from the
    * assignment. */
  def ensureTombstoned(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, TombName) { p =>
      val emb = grown(spark, dataDir, p, parts = 2)
      delete(emb.where(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")), p, tag = Some("demo_delete"))
    }
}
