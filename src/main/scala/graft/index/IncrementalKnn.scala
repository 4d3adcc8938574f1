package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.search.Ann
import graft.tables.Tables
import SegmentedRoot.filterTombsWith

/** Incrementally-maintainable corpus kNN graph — the graph twin of
  * [[IncrementalIvf]] (reference analogue: Qdrant inserts points into its
  * HNSW neighbor graph one delta at a time, `scripts/indexing.py:214-260`;
  * rebuilding a 100 TB corpus graph per nightly delta is the thing a real
  * pipeline can never afford, yet the graph feeds SemDeDup clustering,
  * diversity audits, and hard-negative mining continuously).
  *
  * The exactness argument: the full-rebuild graph ([[Ann.knnGraph]]) is a
  * per-src top-k over the CANDIDATE set {(s, d) : assign(d) ∈ probes(s),
  * s ≠ d}. Every candidate pair is generated in EXACTLY ONE append — the
  * batch where the later-arriving endpoint landed:
  *
  *   - arm 1 (new src): the batch's vectors probe the ENTIRE assignment
  *     so far (old segments + this one) → covers pairs whose src is the
  *     newer endpoint, plus same-batch pairs;
  *   - arm 2 (old src gains new dst): all PRIOR batches' stored probe
  *     lists equi-join this batch's assignment → covers pairs whose dst
  *     is the newer endpoint.
  *
  * Per-segment per-src top-k is a safe partial reduction (top-k of a
  * union == top-k of the union of per-part top-ks), so each append stores
  * only its reduced candidate edges and the read-side merge — union all
  * edge segments, one window top-k per src — is HASH-EXACT the
  * whole-corpus rebuild. IndexSpec pins grown ≡ rebuilt; the a20 oracle
  * is a18's whole-corpus kNN SQL verbatim.
  *
  * Layout under `root` (all publishes behind [[SegmentedRoot]]'s atomic
  * `_COMMITTED` markers, segment written first, marker last):
  *
  *   - `centroids/`   frozen at init (same drift caveat as IncrementalIvf).
  *   - `assign/<k>/`  batch k's (vec_id, cid, embedding), cid-partitioned.
  *   - `probes/<k>/`  batch k's probe lists, SLIM (src, cid) — nprobe rows
  *                    per vector. Stored rather than re-derived because
  *                    arm 2 needs every prior batch's probes; re-deriving
  *                    would be a full corpus × centroids pass per append.
  *                    Embeddings are NOT duplicated here; arm 2 joins them
  *                    back from the assign segments (candidate-sized join,
  *                    AQE broadcasts it when the delta is small).
  *   - `edges/<k>/`   batch k's candidate edges, per-src top-k reduced —
  *                    range-partitioned + sorted by `src` with small
  *                    parquet row groups (the [[KnnGraphIndex]] `_srt`
  *                    seek layout), so the [[graft.search.Ann
  *                    .graphTopKSeek]] serving path's pushed
  *                    `src IN (frontier)` predicates prune row groups on
  *                    EVERY segment of a grown graph, not just on a
  *                    one-shot build. The layout survives growth by
  *                    construction (each append writes its own sorted
  *                    segment) and compaction re-sorts the fold
  *                    (StreamingSpec pins both).
  *   - `commit/v=<k>/` atomic version markers ([[SegmentedRoot]]).
  *
  * Append cost at scale: arm 1 is delta-probes × probed lists (the same
  * shape as a batched ANN query — delta-sized, not corpus-sized); arm 2
  * is corpus-probes equi-joined to the DELTA's lists only — the corpus
  * side streams through one hash join keyed by the handful of cids the
  * delta touched, with partition pruning on the slim probe table's cid
  * column. Nothing ever re-scores corpus × corpus.
  */
object IncrementalKnn extends SegmentedRoot(
    "commit", "", Seq("assign", "probes", "edges", "vecs", "coarse")) {

  // v2: edge segments adopted the src-sorted `_srt` seek layout
  // v3: + per-segment `vecs/` (vec_id-sorted seek twin of the one-shot
  //     artifacts' `vectors/`) and `coarse/` (mod-16 entry layer) — the
  //     two serving-side artifacts a GROWN graph previously lacked: the
  //     seek walk's `vec_id IN (...)` lookups had nowhere prunable to go
  //     (assign segments are cid-partitioned) and entry selection had to
  //     filter `pmod(vec_id,16)` inline over the full merged vectors
  val Name = "knn_inc_v3"

  /** Coarse entry-layer sampling modulus — same rule as the one-shot
    * graph artifacts ([[KnnGraphIndex.CoarseMod]]). */
  val CoarseMod = 16

  private def assignDir(root: String, k: Int) = s"$root/assign/$k"
  private def probesDir(root: String, k: Int) = s"$root/probes/$k"
  private def edgesDir(root: String, k: Int) = s"$root/edges/$k"
  private def repairDir(root: String, k: Int) = s"$root/repairs/seg/$k"
  private def repairBase(root: String) = s"$root/repairs/commit"

  /** The root's full mutation clock — (index segments, tombstone-ledger
    * version, repair-ledger version). Any serving-side cache of resolved
    * state (merged frames, segment lists) is valid exactly while all
    * three are unchanged ([[graft.search.GrownServing]] keys on it);
    * cost is three FS probes. */
  def stateVersions(root: String): (Int, Int, Int) =
    (version(root),
      SegmentStore.tombVersion(tombsBase(root)),
      SegmentStore.version(repairBase(root)))

  /** Operational health of a mutable root — the observability a LIVE
    * index needs and a build-once one doesn't (Lucene exposes segment +
    * deleted-doc counts for exactly this). Beyond the three clocks of
    * [[stateVersions]]: `n_tombstoned_ids` is the ledger backlog
    * compaction will fold, and `n_stale_srcs` is the ONE alertable
    * number — srcs whose served rows a tombstone killed AFTER their
    * last repair (0 = every read is rebuild-exact; >0 = visible-holes
    * degraded until the next repair). Costs two bounded jobs (ledger
    * distinct + the staleness detection pass — the same one
    * [[edges]] pays when ledgers are non-empty); an admin-route price,
    * not a serving-path one. */
  def stats(spark: SparkSession, root: String): Map[String, Long] = {
    val (v, tv, rv) = stateVersions(root)
    // backlog = ledger entries past the last reclaiming fold's rebase
    // (entries at or below it are physically baked in — not a backlog)
    val nTombs = tombs(spark, root).map(_.count()).getOrElse(0L)
    val nStale = // rv==0 counts too: holes with no repairs are still holes
      if (tv == 0 || repairsCurrent(spark, root)) 0L
      else staleSrcs(spark, root, v).map(_.count()).getOrElse(0L)
    Map("index_version" -> v.toLong, "tombstone_ledger_version" -> tv.toLong,
      "repair_ledger_version" -> rv.toLong, "n_tombstoned_ids" -> nTombs,
      "n_stale_srcs" -> nStale, "tomb_rebase" -> committed(root).tombRebase.toLong,
      "repair_rebase" -> committed(root).repairRebase.toLong,
      // READ fan-in (live segment count): after tail-folds the version
      // clock keeps counting mutations while fan-in shrinks — this is
      // the number the compaction trigger and a capacity planner watch
      "read_fan_in" -> fanIn(root).toLong)
  }

  /** Committed segments of one artifact `kind`, rows tagged with `__seg`
    * (manifest entries name the bare physical number the five kinds
    * share; [[tailFold]]ed segments store `__seg` as a column). */
  private def readKind(spark: SparkSession, root: String, kind: String): DataFrame =
    readTagged(committed(root).entries)(p => spark.read.parquet(s"$root/$kind/$p"))

  /** [[readKind]] without the rows a tombstone killed on `idCol`. */
  private def liveKind(spark: SparkSession, root: String, kind: String,
                       idCol: String): DataFrame =
    filterTombs(spark, root, readKind(spark, root, kind), Seq(idCol)).drop("__seg")

  private def readCentroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/centroids")


  /** Top-`nprobe` centroid ids per vector — the same probe rule as
    * [[Ann.knnGraph]] (cosine desc, cid asc). Slim output (src, cid). */
  private def probeLists(vectors: DataFrame, centroids: DataFrame,
                         nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("pscore").desc, col("cid").asc)
    vectors.crossJoin(broadcast(centroids))
      .select(col("vec_id").as("src"), col("cid"),
        round(VectorOps.cosineSim(col("embedding"), col("cvec")), 6).as("pscore"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= nprobe)
      .select(col("src"), col("cid"))
  }

  /** Edge-segment writer — the `_srt` seek layout ([[KnnGraphIndex]]):
    * range-partitioned + sorted by `src`, 1 MiB parquet row groups, so
    * every file and row group carries a tight min/max `src` range and a
    * pushed `src IN (frontier)` seek reads O(frontier) row groups per
    * segment. Segments are small (per-batch candidate edges), so the
    * extra range exchange is delta-sized, never corpus-sized. */
  private def writeEdges(edges: DataFrame, path: String): Unit =
    edges.repartitionByRange(8, col("src"))
      .sortWithinPartitions(col("src"), col("dst"))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(path)

  /** Serving-side vector segments: the batch's (vec_id, embedding) in the
    * vec_id-sorted small-row-group layout the seek walk's pushed
    * `vec_id IN (...)` lookups prune ([[KnnGraphIndex]] `vectors/`), plus
    * the mod-[[CoarseMod]] coarse entry subset as its own artifact (the
    * pmod predicate can't prune row groups, so without it every query's
    * entry selection reads the whole merged vector set —
    * [[graft.search.Ann.hierEntriesFrom]] scaladoc). Both are delta-sized
    * writes; the embedding copy is the same build-once serving trade the
    * one-shot artifacts make. A [[tailFold]] keeps `__seg` in `cols`. */
  private def writeVecs(vectors: DataFrame, root: String, seg: String,
                        cols: Seq[String] = Seq("vec_id", "embedding")): Unit = {
    val slim = vectors.select(cols.map(col): _*)
    slim.repartitionByRange(8, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(s"$root/vecs/$seg")
    slim.where(pmod(col("vec_id"), lit(CoarseMod)) === lit(0))
      .repartitionByRange(2, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/coarse/$seg")
  }

  private def writeAssign(rows: DataFrame, path: String): Unit =
    rows.write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .partitionBy("cid").parquet(path)

  /** Per-src top-k reduction of a candidate edge set — the safe partial
    * form of the read-side merge. */
  private def topKPerSrc(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("score").desc, col("dst").asc)
    cand.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("src"), col("dst"), col("score"))
  }

  /** Freeze `centroids` (cid, cvec), write batch 0's assignment + probes
    * + edges (arm 1 over itself = the plain kNN graph of the batch). */
  def init(vectors: DataFrame, centroids: DataFrame, root: String,
           nprobe: Int, k: Int): Unit =
    SegmentStore.withWriterLease(root, "knn-init") {
    val spark = vectors.sparkSession
    centroids.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$root/centroids")
    val cent = readCentroids(spark, root)
    writeAssign(Ann.ivfAssign(vectors, cent), assignDir(root, 0))
    probeLists(vectors, cent, nprobe)
      .write.mode(SaveMode.Overwrite).parquet(probesDir(root, 0))
    writeEdges(Ann.knnGraph(vectors, cent, nprobe, k)
      .select(col("src"), col("dst"), col("score")), edgesDir(root, 0))
    writeVecs(vectors, root, "0")
    SegmentStore.publish(commitBase(root), 1, None)
    }

  /** Append a delta of new vectors: one new assignment/probes/edges
    * segment, candidate arms as documented above. Vec ids must be new
    * (append-only; replacement needs tombstone + [[compact]]). */
  def append(delta: DataFrame, root: String, nprobe: Int, k: Int,
             tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "knn-append") {
    val spark = delta.sparkSession
    requireInit(root)
    val at = committed(root)
    val cent = readCentroids(spark, root)
    val phys = at.nextPhysical.toString
    val logical = at.nextLogical

    writeAssign(Ann.ivfAssign(delta, cent), s"$root/assign/$phys")
    probeLists(delta, cent, nprobe)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/probes/$phys")

    // tombstone-filtered candidate arms: a segment appended AFTER deletes
    // must not generate candidates into dead rows — its stored per-src
    // top-k would otherwise be born with unrepairable holes (repair only
    // heals holes that exist when it runs). Horizon-aware, so an
    // upserted id participates through its CURRENT row only. No-op on
    // tombstone-free roots (the grown ≡ rebuilt pins are unaffected).
    val newSeg = spark.read.parquet(s"$root/assign/$phys")
    val assignAll = filterTombs(spark, root,
      readKind(spark, root, "assign")
        .unionByName(newSeg.withColumn("__seg", lit(logical))),
      Seq("vec_id"))
      .drop("__seg") // old + this batch

    // arm 1 — new src probes the entire assignment so far (covers pairs
    // whose src arrived in this batch, including same-batch pairs)
    val wProbe = Window.partitionBy(col("src"))
      .orderBy(col("pscore").desc, col("cid").asc)
    val newProbesVec = delta.crossJoin(broadcast(cent))
      .select(col("vec_id").as("src"), col("embedding").as("qvec"), col("cid"),
        round(VectorOps.cosineSim(col("embedding"), col("cvec")), 6).as("pscore"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nprobe)
      .select(col("src"), col("qvec"), col("cid"))
    val arm1 = newProbesVec.join(assignAll, Seq("cid"))
      .where(col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        round(VectorOps.cosineSim(col("embedding"), col("qvec")), 6).as("score"))

    // arm 2 — every PRIOR vector whose probe lists intersect the delta's
    // assigned lists gains the delta's vectors as candidates. Probes are
    // slim; the src embedding joins back from the prior assign segments.
    val cand2 = liveKind(spark, root, "probes", "src").join(newSeg.select(col("cid"), col("vec_id").as("dst"),
        col("embedding").as("dvec")), Seq("cid"))
      .select(col("src"), col("dst"), col("dvec"))
    // horizon-filtered too: an upserted src must contribute its CURRENT
    // embedding exactly once (the stale row would both mis-score and
    // duplicate the pair)
    val arm2 = cand2.join(liveKind(spark, root, "assign", "vec_id").select(col("vec_id").as("src"),
        col("embedding").as("svec")), Seq("src"))
      .select(col("src"), col("dst"),
        round(VectorOps.cosineSim(col("svec"), col("dvec")), 6).as("score"))

    writeEdges(topKPerSrc(arm1.unionByName(arm2), k), s"$root/edges/$phys")
    writeVecs(delta, root, phys)
    publishAppend(root, at, tag)
    }

  /** Committed repair rows with their index horizon as `__seg` and the
    * observed-ledger stamp `tomb_v` (0 for segments written before the
    * stamp existed — treated as "observed nothing", so one re-repair
    * covers them). None when no repair segment is committed. */
  private def repairRows(spark: SparkSession, root: String): Option[DataFrame] = {
    val rv = SegmentStore.version(repairBase(root))
    val from = committed(root).repairRebase // absorbed by the last reclaiming fold
    if (rv <= from) None
    else {
      val raw = (from until rv)
        .map(k => spark.read.parquet(repairDir(root, k)))
        .reduce(_ unionByName _)
        .withColumnRenamed("at_seg", "__seg")
      Some(
        if (raw.columns.contains("tomb_v")) raw
        else raw.withColumn("tomb_v", lit(0L)))
    }
  }

  /** Tombstone-ledger stamp of the NEWEST live repair segment, or -1
    * when none is live. Metadata-only when the publishing repair wrote
    * the `tombv` sidecar ([[repair]]); one bounded scan of the newest
    * segment otherwise (tomb_v is a constant column; pre-stamp segments
    * read as 0 — "observed nothing").
    *
    * This is the repairs-current fast path's input: [[repair]] always
    * heals EVERY then-stale src and stamps the segment with the ledger
    * version it observed, appends never create stale rows against an
    * existing ledger prefix (candidate arms generate against the
    * tombstone-filtered assignment), and repair rows themselves are
    * scored against the filtered assignment — so after a repair stamped
    * T, no src is stale with respect to ledger versions ≤ T. Hence
    * `tombVersion ≤ stamp` proves [[staleSrcs]] empty without running
    * the detection scan (the steady serving state between mutations:
    * FS probes instead of Spark jobs). */
  private def latestRepairStamp(spark: SparkSession, root: String): Long = {
    val rb = repairBase(root)
    val rv = SegmentStore.version(rb)
    if (rv <= committed(root).repairRebase) -1L
    else SegmentStore.versionMeta(rb, rv, "tombv").map(_.toLong).getOrElse {
      val df = spark.read.parquet(repairDir(root, rv - 1))
      if (!df.columns.contains("tomb_v")) 0L
      else df.agg(max(col("tomb_v"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    }
  }

  /** Repairs-current check: true when every committed tombstone has been
    * observed by the newest live repair — [[staleSrcs]] is provably
    * empty then (soundness argument at [[latestRepairStamp]]). */
  private def repairsCurrent(spark: SparkSession, root: String): Boolean =
    SegmentStore.tombVersion(tombsBase(root)) <=
      latestRepairStamp(spark, root)

  /** LIVE srcs whose served top-k is STALE: they own a row (stored or
    * repair) that a tombstone killed (dst-side, `__seg < before_seg`)
    * from a ledger segment NEWER than any repair stamp covering the src.
    * DEAD srcs are excluded — a deleted vector's own rows are dropped
    * src-side by every read path (it serves nothing, so it has no holes
    * to go stale), no repair can ever cover it ([[repair]] heals live
    * srcs only), and counting it would wedge `n_stale_srcs` above zero
    * forever — blocking [[reclaimFold]]'s gate on srcs whose rows the
    * fold drops entirely anyway.
    * Coverage is tracked on the TOMBSTONE LEDGER's version clock, not
    * the index-segment clock: deletes and upserts never bump the index
    * version, so delete→repair→delete with no intervening append is
    * invisible to a segment-horizon check — a repair stamped with the
    * ledger version it observed makes the second delete's staleness
    * detectable. These srcs are what [[repair]] must recompute and what
    * [[edges]] must NOT serve through the repaired pre-filter path.
    * None when the ledger is empty. The scan is one columnar pass over
    * the edge rows against the broadcast tombstone set; the result is
    * bounded by the un-repaired backlog's reverse degree. */
  private def staleSrcs(spark: SparkSession, root: String,
                        v: Int): Option[DataFrame] =
    SegmentStore.tombIdsVersioned(spark, tombsBase(root), committed(root).tombRebase)
      .map { tombs =>
      val baseRows = readKind(spark, root, "edges")
        .withColumn("tomb_v", lit(0L)) // stored rows carry no stamp
      val rows = repairRows(spark, root).fold(baseRows)(baseRows.unionByName(_))
      val idc = tombs.columns.head
      val tt = broadcast(tombs.select(col(idc).as("__dd"),
        col("before_seg"), col("tomb_v").as("__ktv")))
      val need = rows
        .join(tt, rows("dst") === tt("__dd") && rows("__seg") < tt("before_seg"))
        .groupBy(col("src")).agg(max(col("__ktv")).as("needT"))
      val covered = repairRows(spark, root).fold(
          need.withColumn("covT", lit(0L)))(r =>
        need.join(r.groupBy(col("src"))
            .agg(max(col("tomb_v")).as("covT")), Seq("src"), "left")
          .na.fill(0L, Seq("covT")))
      // live-src filter (see scaladoc): one slim tombstone-filtered scan
      // of the per-segment id column — maintenance/detection cost only
      val liveIds = filterTombs(spark, root,
          readTagged(committed(root).entries)(servingSegment(spark, root, "vecs"))
            .select(col("vec_id"), col("__seg")), Seq("vec_id"))
        .select(col("vec_id").as("src")).distinct()
      covered.where(col("covT") < col("needT")).select(col("src"))
        .join(liveIds, Seq("src"), "left_semi")
    }

  /** The merged graph: union of all committed edge segments, one window
    * top-k per src — hash-exact the whole-corpus [[Ann.knnGraph]] rebuild
    * against the same centroids. Schema (src, dst, score, rank). With
    * tombstones present, edges touching a deleted vector are excluded
    * AFTER the rank window (see [[delete]]): survivors keep their
    * original ranks — holes mark the degraded degree — so the result is
    * exactly the rebuild SQL plus a final tombstone WHERE (the a28
    * oracle). */
  def edges(spark: SparkSession, root: String, k: Int): DataFrame = {
    val v = requireInit(root)
    val base = readKind(spark, root, "edges")
    // tombstone set materialized ONCE per read (tiny — bounded by
    // compaction cadence): the optimizer pushes the (src, dst)
    // anti-joins below the segment UNION, so an inline ledger aggregate
    // re-plans per union arm (2 joins × segments broadcast builds, each
    // with its own ledger shuffle — 8 in the r16 a29 before-plan);
    // pinned to in-memory blocks, every arm shares one trivial build.
    val dead = tombs(spark, root).map(_.localCheckpoint())
    // repair segments refill post-delete/post-upsert rank holes (see
    // [[repair]]); their rows carry their OWN write horizon (`at_seg` —
    // the index version the repair scored against), so a later upsert of
    // an endpoint kills stale repair rows exactly like stale stored
    // rows. The union is deduped on (src, dst) — after the horizon
    // filter at most one version of a pair survives, max(score) is a
    // formality. With repairs present, tombstones filter BEFORE the rank
    // window ONLY for srcs the repairs actually COVER (their full
    // current top-k rows are present, so the window result equals the
    // rebuild over current vectors, ranks dense). A src holed by a
    // tombstone NEWER than its last repair stamp ([[staleSrcs]]) must
    // NOT pre-filter — a stored below-top-k row would silently promote
    // into a dense rank that is neither rebuild-exact nor the visible-
    // holes contract; those srcs serve their pre-repair base rows with
    // the filter-AFTER-rank semantics (holes visible — the degradation
    // signal) until the next [[repair]] restores exactness. Repair-free
    // roots keep the documented filter-AFTER semantics (the a28 oracle)
    // and their exact pre-repair plans.
    val rep = repairRows(spark, root)
    val w = Window.partitionBy(col("src"))
      .orderBy(col("score").desc, col("dst").asc)
    val out = rep match {
      case None =>
        filterTombsWith(dead,
          base.withColumn("rank", row_number().over(w))
            .where(col("rank") <= k), Seq("src", "dst"))
          .drop("__seg")
      case Some(r) =>
        // Repairs-current fast path (the steady a29/a30 serving state):
        // the ledger-stamp check ([[repairsCurrent]]) proves the stale
        // set empty from commit METADATA, so the detection scan and its
        // materialization never run — FS probes instead of the ~2/3 of
        // every steady-state read's jobs they cost (r16 measurement).
        // Otherwise the stale set is MATERIALIZED once (localCheckpoint
        // — bounded by the unrepaired backlog's reverse degree) so the
        // detection subtree never re-executes per consumer. Compaction
        // clears both ledgers and returns the root to the single-scan
        // plan.
        val stale: Option[DataFrame] =
          if (repairsCurrent(spark, root)) None
          else {
            val s = staleSrcs(spark, root, v)
              .getOrElse(base.select(col("src")).limit(0))
              .localCheckpoint()
            if (s.isEmpty) None else Some(s)
          }
        val merged = base.unionByName(r.drop("tomb_v")
          .select(col("src"), col("dst"), col("score"), col("__seg")))
        val coveredRows = stale match {
          case Some(s) => merged.join(broadcast(s), Seq("src"), "left_anti")
          case None => merged
        }
        // ONE exchange for dedup + rank: hashing by src satisfies both
        // the (src, dst) aggregate's clustering and the rank window's —
        // the default plan paid two shuffles ((src,dst), then src)
        val covered = filterTombsWith(dead, coveredRows, Seq("src", "dst"))
          .repartition(col("src"))
          .groupBy(col("src"), col("dst")).agg(max(col("score")).as("score"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= k)
          .select(col("src"), col("dst"), col("score"), col("rank"))
        stale match {
          case None => covered
          case Some(s) =>
            // stale-src sidecar: base rows only, rank first, kill after
            // — as if their repairs never ran, holes visible
            val staleRanked = base.join(broadcast(s), Seq("src"), "left_semi")
              .withColumn("rank", row_number().over(w))
              .where(col("rank") <= k)
            covered.unionByName(
              filterTombsWith(dead, staleRanked, Seq("src", "dst"))
                .drop("__seg"))
        }
    }
    out.orderBy(col("src"), col("rank"))
  }

  /** Repair post-delete degree WITHOUT a rebuild — the HNSW deferred-
    * repair operation (Qdrant heals neighbor lists around deleted points
    * instead of rebuilding). [[delete]] leaves rank holes: a survivor
    * whose stored top-k pointed at deleted vectors serves fewer than k
    * edges. This recomputes the FULL surviving candidate set for exactly
    * those srcs — their stored probe lists equi-join the tombstone-
    * filtered assignment — and commits the per-src top-k as a repair
    * segment the read-side merge folds in.
    *
    * Exactness: a src with no holes already equals the rebuild-without-
    * deleted top-k (candidates below a surviving top-k cannot displace
    * it), and a repaired src is recomputed over the complete surviving
    * candidate set — so after repair the WHOLE graph equals
    * [[Ann.knnGraph]] over the survivors against the frozen centroids
    * (the a29 oracle states it in SQL). Cost is delta-shaped: the
    * repaired-src set is bounded by (deleted degree) · k, its probe join
    * touches only those srcs' lists, never corpus × corpus. Idempotent
    * via `tag`. */
  def repair(spark: SparkSession, root: String, nprobe: Int, k: Int,
             tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "knn-repair") {
    val rb = repairBase(root)
    if (tag.exists(SegmentStore.anyCommittedHasTag(rb, _))) return
    val v = requireInit(root)
    if (tombs(spark, root).isEmpty)
      return // no backlog past the last reclaiming fold — nothing to heal
    if (repairsCurrent(spark, root))
      return // every ledger entry already observed by the newest repair
             // — the detection scan would find nothing (metadata proof)
    // detection from the DEAD ROWS themselves (counting served edges is
    // unsound: a refill — the pre-filter read's stored extras, or an
    // upsert's fresh pair — can restore the count while the true
    // next-best candidate was never stored). A src needs repair when it
    // owns a row some tombstone killed (dst side) that no repair with a
    // NEWER observed-ledger stamp covers — [[staleSrcs]]; coverage runs
    // on the tombstone ledger's version clock because deletes/upserts
    // never bump the index version. Cost: the dead-row scan is one
    // columnar pass, the repair set is bounded by the tombstone
    // backlog's reverse degree — compaction resets both.
    val repairSrcs = staleSrcs(spark, root, v).get
    val holed = vectorsAll(spark, root)
      .select(col("vec_id").as("src"), col("embedding").as("svec"))
      .join(repairSrcs, Seq("src"), "left_semi")
      .persist()
    if (holed.isEmpty) { holed.unpersist(); return } // nothing to heal —
    // no ledger version, no empty segment
    // full CURRENT candidate set for exactly those srcs: stored probe
    // lists ∩ horizon-filtered assignment (an upserted id participates
    // through its current row only)
    val cand = holed.join(liveKind(spark, root, "probes", "src"), Seq("src"))
      .join(liveKind(spark, root, "assign", "vec_id").select(col("cid"), col("vec_id").as("dst"),
        col("embedding").as("dvec")), Seq("cid"))
      .where(col("dst") =!= col("src"))
      .select(col("src"), col("dst"),
        round(VectorOps.cosineSim(col("svec"), col("dvec")), 6).as("score"))
    val rv = SegmentStore.version(rb)
    // write horizon: these rows scored data current as of segment v-1 —
    // a later upsert (tombstone horizon ≥ v) kills them like any stale
    // stored row; earlier horizons spare them (they already used the
    // current version). `tomb_v` stamps the tombstone-LEDGER version
    // this repair observed: [[staleSrcs]] compares killing tombstones'
    // ledger versions against it, so a delete committed AFTER this
    // repair (same index version — deletes don't bump it) is correctly
    // detected as uncovered on the next pass.
    val observedTombV = SegmentStore.tombVersion(tombsBase(root)).toLong
    writeEdges(topKPerSrc(cand, k)
      .withColumn("at_seg", lit(committed(root).nextLogical - 1L))
      .withColumn("tomb_v", lit(observedTombV)),
      repairDir(root, rv))
    holed.unpersist()
    // the stamp rides the commit as metadata too, so read-side
    // repairs-current checks ([[latestRepairStamp]]) cost an FS probe
    // instead of a data scan
    SegmentStore.publishWithMeta(rb, rv + 1, tag,
      Map("tombv" -> observedTombV.toString))
    }

  /** Mark vectors DELETED — the missing half of the CRUD story the
    * reference serves (its point delete/update endpoints remove vectors
    * from the live HNSW; `app/api/endpoints/` CRUD routes). Semantics are
    * Lucene/Qdrant mark-and-filter: a tombstone segment commits under its
    * own versioned ledger (same marker protocol — ids first, marker
    * last), every read-side frame excludes tombstoned ids from that
    * moment on, and [[compact]] physically reclaims the rows and clears
    * the ledger. Until a REBUILD, edges that pointed AT a deleted vector
    * are dropped rather than refilled — the per-src rank keeps its holes,
    * a visible (and documented) degree-degradation signal, exactly like
    * Lucene's deleted docs not refilling posting tops until merge.
    * Append-arms stay unfiltered: candidate edges into deleted vectors
    * are generated and then filtered at read, which keeps the grown ≡
    * rebuilt exactness argument intact for the SURVIVING pairs and keeps
    * the oracle replayable (full kNN SQL + final tombstone WHERE).
    * Idempotent via `tag` like [[append]] (at-least-once deleters replay
    * safely). */
  def delete(ids: DataFrame, root: String, tag: Option[String] = None): Unit =
    commitDelete(ids, "vec_id", root, "knn-delete", tag)

  /** UPSERT — update points IN PLACE by id (the reference's Qdrant
    * upsert overwrites a point; until now this family required
    * delete + re-insert under a fresh id). Two steps under the caller's
    * idempotence tag: a VERSIONED tombstone (`before_seg` = the current
    * segment count — rows of earlier segments are dead, the re-insert's
    * segment serves) followed by a plain [[append]] of the new vectors
    * under the SAME ids. Stale candidate pairs (scored against the old
    * embedding) die at read like delete-tombstoned ones — holes until
    * [[repair]], which restores rebuild-with-current-vectors exactness
    * (the a30 oracle states it in SQL). Append-arm coverage makes the
    * current pairs complete: the new vectors probe everything (arm 1)
    * and every prior src gains them as candidates (arm 2). */
  def upsert(delta: DataFrame, root: String, nprobe: Int, k: Int,
             tag: Option[String] = None): Unit =
    commitUpsert(delta, "vec_id", root, "knn-upsert", tag)(
      append(delta, root, nprobe, k, tag))

  /** Merged serving vectors (vec_id, embedding): union of the per-segment
    * vec_id-sorted `vecs/` artifacts — every file keeps its tight min/max
    * vec_id ranges, so a pushed `vec_id IN (...)` seek reads O(lookups)
    * row groups per segment ([[graft.search.Ann.graphTopKSeek]]'s
    * vectors side for a GROWN graph). */
  /** Per-segment `vecs/` (or `coarse/`) read with the PRE-v3 fallback:
    * roots written before `knn_inc_v3` (e.g. long-lived streaming
    * `knnIngest` roots, which are not keyed by the bumped [[Name]]) have
    * no serving-side vecs/coarse artifacts — their slim (vec_id,
    * embedding) rows come from the assign segment instead (cid-
    * partitioned, so vec_id seeks don't prune there, and the coarse subset
    * is filtered inline — correct but slower; every segment appended AFTER
    * the code upgrade writes real artifacts, so the penalty decays with
    * normal churn and vanishes at the next compaction, which re-writes the
    * fold in the seek layout). One existence probe per segment. */
  private def servingSegment(spark: SparkSession, root: String, kind: String)
                            (kk: String): DataFrame =
    if (SegmentStore.pathExists(s"$root/$kind/$kk"))
      spark.read.parquet(s"$root/$kind/$kk")
    else {
      val assign = spark.read.parquet(s"$root/assign/$kk")
      (if (kind == "coarse") assign.where(pmod(col("vec_id"), lit(CoarseMod)) === lit(0))
       else assign).select(col("vec_id"), col("embedding"))
    }

  /** Merged serving vectors (vec_id, embedding): union of the per-segment
    * vec_id-sorted `vecs/` artifacts — every file keeps its tight min/max
    * vec_id ranges, so a pushed `vec_id IN (...)` seek reads O(lookups)
    * row groups per segment ([[graft.search.Ann.graphTopKSeek]]'s
    * vectors side for a GROWN graph). */
  def vectorsAll(spark: SparkSession, root: String): DataFrame = {
    requireInit(root)
    filterTombs(spark, root,
      readTagged(committed(root).entries)(servingSegment(spark, root, "vecs"))
        .select(col("vec_id"), col("embedding"), col("__seg")),
      Seq("vec_id"))
      .drop("__seg")
  }

  /** Merged coarse entry layer (vec_id % [[CoarseMod]] == 0 subset) —
    * 1/[[CoarseMod]] of the corpus as I/O for entry selection, exactly
    * like the one-shot artifacts' `coarse/`. */
  def coarseAll(spark: SparkSession, root: String): DataFrame = {
    requireInit(root)
    filterTombs(spark, root,
      readTagged(committed(root).entries)(servingSegment(spark, root, "coarse"))
        .select(col("vec_id"), col("embedding"), col("__seg")),
      Seq("vec_id"))
      .drop("__seg")
  }

  /** Fold all segments into a fresh single-segment root (read-merged
    * edges, unioned assignment/probes/vecs/coarse, centroids
    * republished) — the LSM tail-fold bounding read-side fan-in; old
    * root readable throughout. Tombstoned rows are physically dropped
    * (assign/probes/vecs/coarse by id, edges via the already-filtered
    * read) and the new root starts with a CLEAR tombstone ledger — the
    * reclamation half of [[delete]]'s mark-and-filter, same as a Lucene
    * segment merge. */
  def compact(spark: SparkSession, root: String, newRoot: String,
              k: Int, tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "knn-compact") {
    requireInit(root)
    readCentroids(spark, root).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$newRoot/centroids")
    writeLive(spark, root, k, newRoot, "0")
    SegmentStore.publish(commitBase(newRoot), 1, tag)
    }

  /** The root's LIVE state as one segment `p` under `dest`: tombstoned
    * rows physically dropped (assign/probes/vecs/coarse by id, edges via
    * the covered merged read — repair refills folded in, ranks recomputed
    * at read); vecs/coarse re-sorted into the seek layout. */
  private def writeLive(spark: SparkSession, root: String, k: Int,
                        dest: String, p: String): Unit = {
    writeAssign(liveKind(spark, root, "assign", "vec_id")
      .select(col("vec_id"), col("embedding"), col("cid")), s"$dest/assign/$p")
    liveKind(spark, root, "probes", "src").select(col("src"), col("cid"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dest/probes/$p")
    writeEdges(edges(spark, root, k)
      .select(col("src"), col("dst"), col("score")), s"$dest/edges/$p")
    writeVecs(vectorsAll(spark, root), dest, p)
  }

  /** Size-tiered auto-compaction trigger (see
    * [[IncrementalBm25.compactIfNeeded]] — same policy, same pointer-swap
    * contract): fold when edge-segment fan-in exceeds `maxSegments`,
    * return the root to read from. */
  def compactIfNeeded(spark: SparkSession, root: String, k: Int,
                      maxSegments: Int, tag: Option[String] = None): String =
    SegmentStore.compactIfNeeded(root, version(root), maxSegments)(
      compact(spark, root, _, k, tag = tag))

  /** TAIL-FOLD for the graph family: fold every segment past the first
    * `keep` into ONE fresh physical segment (all five artifact kinds) IN
    * THIS ROOT — O(tail) write cost, the prefix only referenced (see
    * [[SegmentedRoot]] and docs/PLANS.md for the general design).
    * Family-specific rule: the fold is PURE REORGANIZATION —
    * every folded row keeps its original logical `__seg` as a STORED
    * column (the manifest marks the segment mixed-horizon), so the row
    * multiset, every tombstone horizon cut, the repair-coverage clock
    * comparisons, and the stale-src visible-holes semantics are
    * byte-identical to the unfolded root. No gating on repair state, no
    * ledger rewrite, no reduction: dead rows and below-top-k rows fold
    * through unchanged (the read-side merge already handles both), and
    * their physical reclamation stays with [[compact]] — Lucene's
    * partial-merge vs full-merge split. The folded edge/vecs/coarse
    * artifacts keep their seek layouts (src- and vec_id-sorted, small
    * row groups), so the serving walk's pushed `IN` lookups prune on
    * folded segments exactly as on grown ones. */
  def tailFold(spark: SparkSession, root: String, keep: Int = 1,
               tag: Option[String] = None): Unit = {
    require(keep >= 1,
      "knn tail-fold keeps at least one segment — full in-root " +
        "reclamation is reclaimFold() (repairs-current gate) or compact()")
    commitFold(root, keep, tag, "knn-tail-fold") { slot =>
      def tagged(read: String => DataFrame) = readTagged(slot.tail)(read)
      val p = slot.phys
      writeAssign(tagged(d => spark.read.parquet(s"$root/assign/$d"))
        .select(col("vec_id"), col("embedding"), col("__seg"), col("cid")),
        s"$root/assign/$p")
      tagged(d => spark.read.parquet(s"$root/probes/$d"))
        .select(col("src"), col("cid"), col("__seg"))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/probes/$p")
      writeEdges(tagged(d => spark.read.parquet(s"$root/edges/$d"))
        .select(col("src"), col("dst"), col("score"), col("__seg")),
        s"$root/edges/$p")
      writeVecs(tagged(servingSegment(spark, root, "vecs")), root, p,
        Seq("vec_id", "embedding", "__seg"))
      slot.folded(-1L) // mixed-horizon: the fold consumes no logical number
    }
  }

  /** Size-tiered trigger for [[tailFold]] — [[SegmentedRoot.foldOnFanIn]]
    * over the five-kind segment byte totals (edges + assign dominate),
    * the fold start floored at 1 (this fold keeps the first segment). */
  def tailFoldIfNeeded(spark: SparkSession, root: String, maxSegments: Int,
                       keep: Int = 1,
                       tag: Option[String] = None): Option[String] =
    foldOnFanIn(root, maxSegments, keep)(m =>
      tailFold(spark, root, math.max(m, 1), tag))

  /** RECLAIMING full fold — bake every committed kill into ONE fresh
    * segment IN THIS ROOT and REBASE the tombstone ledger, the graph
    * family's missing lever between [[tailFold]] (pure reorganization —
    * dead rows and ledger history fold through untouched, growing with
    * churn) and [[compact]] (a full new root + pointer swap). After a
    * sustained churn the ledger's broadcast anti-join input is the cost
    * that grows without bound; this bounds it in place: the root path
    * never moves, the ledger's version clock never resets, readers just
    * skip everything at or below the manifest's new `tombRebase`.
    *
    * GATED ON REPAIRS-CURRENT (`n_stale_srcs == 0` — [[stats]]'s one
    * alertable number): baking freezes the current served top-k as the
    * new stored base, so a rank hole repair hasn't healed yet would
    * freeze as permanent silent truncation (the dead row that marked the
    * src as needing repair is physically gone — [[staleSrcs]] could
    * never detect it again). With repairs current, every src's served
    * top-k IS the rebuild-over-survivors top-k (the a29/a33 oracles), so
    * freezing it loses nothing: the fold writes
    *   - assign/probes/vecs/coarse: tombstone-filtered unions (kills
    *     physically dropped),
    *   - edges: the covered merged read ([[edges]] — repair refills
    *     folded in, ranks recomputed at read),
    * all under ONE fresh logical number (every surviving row is current
    * as of the fold — uniform horizon, no stored `__seg` column), so a
    * post-fold delete/upsert kills folded rows normally with its higher
    * horizon. The REPAIR ledger rebases with the tombstone ledger
    * (`repairRebase` — readers skip absorbed repair segments): their
    * covered refills are IN the folded edges, and their stale rows
    * (superseded by pre-fold upserts) were suppressed by exactly the
    * tombstone entries the fold absorbed — merging them back would
    * resurrect pre-upsert scores (the twin test caught it). Write cost
    * is O(live corpus) like any full fold — schedule at the deep-clean
    * cadence, not per batch. Idempotent via `tag`; runs under the
    * writer lease. */
  def reclaimFold(spark: SparkSession, root: String, k: Int,
                  tag: Option[String] = None): Unit =
    commitFold(root, 0, tag, "knn-reclaim-fold") { slot =>
      val staleN =
        if (repairsCurrent(spark, root)) 0L
        else staleSrcs(spark, root, slot.at.v).map(_.count()).getOrElse(0L)
      require(staleN == 0L,
        s"reclaiming fold refused: $staleN srcs have unrepaired holes " +
          "(n_stale_srcs > 0) — baking kills now would freeze them as " +
          "silent truncation; run repair() first")
      // repair-ledger clock captured BEFORE the reads it stamps as absorbed
      val repairV = SegmentStore.version(repairBase(root))
      writeLive(spark, root, k, root, slot.phys)
      slot.folded().copy(repairRebase = repairV)
    }

  /** Centroid RETRAIN for the graph family — the production answer to
    * the frozen-centroid drift caveat ([[IncrementalIvf.retrain]]'s graph
    * twin): re-fit kmeans on the CURRENT live vectors (tombstone-
    * filtered), then rebuild assignment/probes/edges against the new
    * centroids into a fresh single-segment root — the one operation that
    * IS a rebuild by definition (new centroids change every candidate
    * list), done at the operator's chosen cadence rather than forced per
    * delta. Old root readable throughout; callers swap the pointer. The
    * result serves exactly [[Ann.knnGraph]] over the live vectors against
    * the re-fit centroids (IndexSpec pins it). */
  def retrain(spark: SparkSession, root: String, newRoot: String,
              numCentroids: Int, nprobe: Int, k: Int): Unit =
    SegmentStore.withWriterLease(root, "knn-retrain") {
    val live = vectorsAll(spark, root)
    val assembled = live.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col("embedding")))
    val model = MlIndex.fitIvfCentroids(assembled, numCentroids)
    import spark.implicits._
    init(live, model.clusterCenters.zipWithIndex.map {
        case (c, i) => (i.toLong, c.toArray.map(_.toFloat).toSeq)
      }.toSeq.toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec")),
      newRoot, nprobe, k)
    }

  /** Incrementally-GROWN whole-corpus graph for `dataDir` (thirds: init +
    * two appends), memoized via the IndexCatalog — oracle-checkable
    * against the same whole-corpus kNN SQL as a18 (centroids = stored
    * vectors 0..9, the engine-independent choice). */
  def ensure(spark: SparkSession, dataDir: String,
             nprobe: Int = 3, k: Int = 5): String =
    IndexCatalog.ensure(spark, dataDir, Name)(
      grownThirds(spark, dataDir, _, nprobe, k))

  /** The oracle fixtures' grown graph at `p` (centroids = stored vectors
    * 0..9; init + two appends by vec_id % 3); returns the embeddings. */
  private def grownThirds(spark: SparkSession, dataDir: String, p: String,
                          nprobe: Int, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dataDir)
    init(emb.where(col("vec_id") % 3 === 0), emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")), p, nprobe, k)
    append(emb.where(col("vec_id") % 3 === 1), p, nprobe, k)
    append(emb.where(col("vec_id") % 3 === 2), p, nprobe, k)
    emb
  }

  // deterministic demo deletion set for the oracle-checked tombstone
  // read (a28): every 7th-mod-3 vector — spread across all three
  // segments and both edge endpoints
  val TombName = "knn_tomb_v1"

  /** [[ensure]]'s grown graph with a committed tombstone segment on top
    * (vec_id % 7 == 3 deleted) — memoized for the `a28_graph_tombstone`
    * oracle: the merged read must equal the whole-corpus kNN SQL plus the
    * final tombstone WHERE, holes in `rank` preserved. */
  def ensureTombstoned(spark: SparkSession, dataDir: String,
                       nprobe: Int = 3, k: Int = 5): String =
    IndexCatalog.ensure(spark, dataDir, TombName) { p =>
      val emb = grownThirds(spark, dataDir, p, nprobe, k)
      delete(emb.where(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")), p, tag = Some("demo_delete"))
    }

  // v2: repair segments carry their write horizon (`at_seg`) so upserts
  // can kill stale repair rows
  // v3: + the observed-tombstone-ledger stamp (`tomb_v`) so coverage is
  // tracked on the ledger clock (delete→repair→delete is re-repairable)
  // v4/v3/v3 fixture bump (r16): repairs publish the observed-ledger
  // stamp as commit metadata, so steady-state reads prove repairs
  // current without a detection scan — rebuilt fixtures carry the stamp
  val RepairName = "knn_repair_v4"

  val UpsertName = "knn_upsert_v3"

  /** [[ensure]]'s grown graph with a same-id UPSERT applied and repaired —
    * memoized for the `a30_graph_upsert` oracle: every vec_id % 11 == 5
    * (that has a +1 neighbor) takes ITS NEIGHBOR'S embedding in place,
    * then [[repair]] heals the stale-pair holes. The merged read must
    * equal the whole-corpus kNN SQL over the CURRENT vectors (original
    * frozen centroids — anchors are geometric, the upsert moves corpus
    * rows, not anchors), ranks dense. */
  def ensureUpserted(spark: SparkSession, dataDir: String,
                     nprobe: Int = 3, k: Int = 5): String =
    IndexCatalog.ensure(spark, dataDir, UpsertName) { p =>
      val emb = grownThirds(spark, dataDir, p, nprobe, k)
      val updated = emb.as("a")
        .join(emb.select(col("vec_id").as("nid"),
          col("embedding").as("nemb")), col("a.vec_id") + 1 === col("nid"))
        .where(pmod(col("a.vec_id"), lit(11)) === 5)
        .select(col("a.vec_id").as("vec_id"), col("nemb").as("embedding"))
      upsert(updated, p, nprobe, k, tag = Some("demo_upsert"))
      repair(spark, p, nprobe, k, tag = Some("demo_upsert_repair"))
    }

  val TailFoldName = "knn_tailfold_v2"

  /** [[ensureRepaired]]'s graph (delete + repair) with a TAIL-FOLD on
    * top (keep = 1: segments 1..3 fold into one mixed-horizon segment,
    * the init segment untouched) — memoized for the `a32_graph_tailfold`
    * oracle. The fold is PURE reorganization (same rows, same stored
    * horizons, fewer directories), so the read must STILL equal a29's
    * rebuild-over-survivors SQL verbatim. */
  def ensureTailFolded(spark: SparkSession, dataDir: String,
                       nprobe: Int = 3, k: Int = 5): String =
    IndexCatalog.ensure(spark, dataDir, TailFoldName) { p =>
      val emb = grownThirds(spark, dataDir, p, nprobe, k)
      delete(emb.where(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")), p, tag = Some("demo_delete"))
      repair(spark, p, nprobe, k, tag = Some("demo_repair"))
      tailFold(spark, p, keep = 1, tag = Some("demo_tf_fold"))
    }

  val ReclaimName = "knn_reclaim_v1"

  /** [[ensureRepaired]]'s graph (delete + repair) with a RECLAIMING full
    * fold on top — memoized for the `a33_graph_reclaim` oracle: baking
    * kills with repairs current freezes exactly the rebuild-over-
    * survivors state, so the read must STILL equal a29's SQL verbatim,
    * ranks dense — while the manifest's `tombRebase` proves the ledger
    * is physically absorbed (readers pay zero anti-join for it). */
  def ensureReclaimFolded(spark: SparkSession, dataDir: String,
                          nprobe: Int = 3, k: Int = 5): String =
    IndexCatalog.ensure(spark, dataDir, ReclaimName) { p =>
      val emb = grownThirds(spark, dataDir, p, nprobe, k)
      delete(emb.where(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")), p, tag = Some("demo_delete"))
      repair(spark, p, nprobe, k, tag = Some("demo_repair"))
      reclaimFold(spark, p, k, tag = Some("demo_reclaim"))
    }

  val ReclaimDegradedName = "knn_reclaim_degraded_v1"

  /** [[ensureReclaimFolded]]'s graph with a FURTHER delete applied and
    * deliberately NOT repaired — memoized for the `a34_reclaim_degraded`
    * oracle, the one serving state no oracle pinned before (r13 verdict
    * missing #3): between a delete and its repair on a reclaimed root,
    * the read serves the FROZEN exact top-k minus the killed rows —
    * visible rank holes (a src can keep a rank beyond its surviving row
    * count), NEVER silent promotion past the frozen top-k (reclaim
    * physically dropped every sub-top-k candidate, so there is nothing
    * to promote FROM — a regression that invented promotions would
    * break the filter-after-rank SQL this fixture is checked against). */
  def ensureReclaimDegraded(spark: SparkSession, dataDir: String,
                            nprobe: Int = 3, k: Int = 5): String =
    IndexCatalog.ensure(spark, dataDir, ReclaimDegradedName) { p =>
      val emb = grownThirds(spark, dataDir, p, nprobe, k)
      delete(emb.where(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")), p, tag = Some("demo_delete"))
      repair(spark, p, nprobe, k, tag = Some("demo_repair"))
      reclaimFold(spark, p, k, tag = Some("demo_reclaim"))
      // the degraded window: a second delete, repair deliberately absent
      delete(emb.where(pmod(col("vec_id"), lit(11)) === 4)
        .select(col("vec_id")), p, tag = Some("demo_degrade"))
    }

  /** [[ensureTombstoned]]'s graph with the holes REPAIRED — memoized for
    * the `a29_graph_repair` oracle: after [[repair]] the merged read
    * equals the whole-corpus kNN SQL computed over the SURVIVORS (frozen
    * centroids unchanged), ranks dense — a rebuild nobody had to run. */
  def ensureRepaired(spark: SparkSession, dataDir: String,
                     nprobe: Int = 3, k: Int = 5): String =
    IndexCatalog.ensure(spark, dataDir, RepairName) { p =>
      val emb = grownThirds(spark, dataDir, p, nprobe, k)
      delete(emb.where(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")), p, tag = Some("demo_delete"))
      repair(spark, p, nprobe, k, tag = Some("demo_repair"))
    }
}
