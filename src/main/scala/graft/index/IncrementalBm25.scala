package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.ingest.Store
import graft.search.Bm25

/** Incrementally-maintainable BM25 index — the segment design that lets a
  * delta import refresh sparse search WITHOUT rebuilding the corpus index
  * (the reference's delta imports re-upsert only changed points into
  * Qdrant's sparse index, `scripts/indexing.py:214-260`; a full rebuild
  * per delta would be the one thing a 100 TB corpus can never afford).
  *
  * Why [[Bm25Index]] can't append: it bakes idf and length normalization
  * into per-posting impact weights at build time, so ANY new document —
  * which changes n_docs, avgdl and every matched term's df — invalidates
  * every stored weight. This index keeps the two halves apart:
  *
  *   - `seg/<k>/`  postings (term, id, dl, tf) — raw, corpus-stat-free,
  *     hence IMMUTABLE once written. Append-only; each delta becomes the
  *     next segment, term-range-sorted with a bloom filter on term so
  *     `term IN (...)` still prunes at every segment's scan.
  *   - `stats/v=<k>/`  merged term df + (n_docs, sum_dl), rewritten per
  *     append — vocabulary-sized, a vanishing fraction of the postings.
  *
  * The committed version is max(v) under `stats/`: an append writes its
  * segment FIRST and publishes `stats/v=<k+1>` last, so a crash (or a
  * concurrent reader) between the two sees the old version and ignores
  * the half-appended segment — old artifacts are never touched.
  *
  * Queries read segments `0..v-1` + the v-stats and apply idf/length
  * normalization at query time: one pushed-In+bloom scan per segment
  * (unioned), one broadcast join against the |query terms| df rows, one
  * partial-aggregated shuffle on id. Scoring math is bit-identical to
  * [[Bm25.score]]/[[Bm25Index.build]] — same formula, same operation
  * order; `sum_dl` is an exact int64 so `avgdl = sum_dl / n_docs` equals
  * the built avg — so an incrementally-grown index returns HASH-EXACT the
  * results of a from-scratch build (IndexSpec pins it; the s3c oracle is
  * the plain whole-corpus BM25 SQL).
  *
  * Semantics: append-mostly (new doc ids), plus mark-and-filter
  * [[delete]] — tombstoned docs leave results immediately, stats stay
  * stale until [[compact]] reclaims postings and recomputes them
  * (Lucene's exact deleted-doc behavior). Replacing a document is
  * delete + append under the document's next version id.
  */
object IncrementalBm25 extends SegmentedRoot("stats", "seg/", Seq("seg")) {

  // v2: commit protocol change (stats versions publish via the atomic
  // _COMMITTED marker) — v1 artifacts carry no marker and must not be
  // reused
  val Name = "bm25_inc_v2"

  /** Raw per-(term, doc) postings: corpus-stat-free, safe to freeze. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Per-delta stat increments: term df plus (n_docs, sum_dl). */
  private def statsOf(postings: DataFrame, docs: DataFrame,
                      textCol: String): (DataFrame, DataFrame) = {
    // postings are distinct on (term, id): count(1) == countDistinct(id)
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(TextOps.tokens(col(textCol))).cast("long")).as("sum_dl"))
    (dfreq, corpus)
  }

  // the commit base `stats/` CARRIES the merged stats parquet in each
  // version dir (the directory appears as soon as the write starts, so
  // only the marker commits); after the first [[tailFold]] the manifest
  // rides the same dir and the stats payload keeps riding every version
  private def statsDir(root: String, v: Int) =
    SegmentStore.versionDir(commitBase(root), v)
  private def segDir(root: String, k: Int) = s"$root/seg/$k"

  /** Operational health of a mutable BM25 root — the gauge that makes
    * the family's STALE-STATS contract operable: deletes/upserts/partial
    * folds leave df/n_docs/avgdl counting dead document versions by
    * design (Lucene's deleted-docs-before-merge, [[delete]]/[[tailFold]]
    * scaladocs), and until now nothing surfaced HOW stale — an operator
    * who only ever partial-folds never learns scoring is drifting.
    * `stats_drift_docs` = `stats_n_docs` − `live_n_docs` (documents the
    * stats count that no longer serve: deleted survivors-to-be plus one
    * per upsert's dead version); when its share of `stats_n_docs` grows
    * past the operator's tolerance, a FULL fold ([[tailFold]] keep=0) or
    * [[compact]] is the merge moment that zeroes it. Costs one distinct
    * count over the surviving postings — an admin-route price, not a
    * serving-path one. */
  def stats(spark: SparkSession, root: String,
            idCol: String): Map[String, Long] = {
    val v = requireInit(root)
    val statsNDocs = spark.read.parquet(s"${statsDir(root, v)}/corpus")
      .select(col("n_docs")).head().getLong(0)
    val liveNDocs = filterTombs(spark, root,
        readSegsTagged(spark, root).select(col(idCol), col("__seg")),
        Seq(idCol))
      .select(col(idCol)).distinct().count()
    val nTombs = tombs(spark, root).map(_.count()).getOrElse(0L)
    Map(
      "index_version" -> v.toLong,
      "tombstone_ledger_version" -> SegmentStore.tombVersion(tombsBase(root)).toLong,
      "read_fan_in" -> fanIn(root).toLong,
      "n_tombstoned_ids" -> nTombs,
      "stats_n_docs" -> statsNDocs,
      "live_n_docs" -> liveNDocs,
      "stats_drift_docs" -> (statsNDocs - liveNDocs))
  }

  /** Build segment 0 + stats v=1. `tag` is an optional idempotence tag
    * committed atomically with the version (see [[committedHasTag]]). */
  def init(docs: DataFrame, idCol: String, textCol: String, root: String,
           numFiles: Int = 8, tag: Option[String] = None): Unit =
    writeVersion(docs, idCol, textCol, root, init = true, numFiles, tag)

  /** Append a delta as the next segment and publish merged stats. Doc ids
    * must be new (append-only semantics — see scaladoc). */
  def append(delta: DataFrame, idCol: String, textCol: String, root: String,
             numFiles: Int = 8, tag: Option[String] = None): Unit = {
    requireInit(root)
    writeVersion(delta, idCol, textCol, root, init = false, numFiles, tag)
  }

  private def writeVersion(docs: DataFrame, idCol: String, textCol: String,
                           root: String, init: Boolean, numFiles: Int,
                           tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "bm25-append") { // single-writer,
    val spark = docs.sparkSession                       // checked
    val at = committedAt(root, if (init) 0 else version(root))
    val v = at.v
    val postings = postingsOf(docs, idCol, textCol)
    // segment first — invisible until the matching stats version lands
    Store.optimizeLayout(postings, segDir(root, at.nextPhysical), Seq("term", idCol),
      numFiles, bloomCols = Seq("term"))
    // re-read what was written: one source of truth for the merge
    val written = spark.read.parquet(segDir(root, at.nextPhysical))
    val (dfreq, corpus) = statsOf(written, docs, textCol)
    val (mergedDf, mergedCorpus) =
      if (init) (dfreq, corpus)
      else {
        val oldDf = spark.read.parquet(s"${statsDir(root, v)}/termstats")
        val oldCorpus = spark.read.parquet(s"${statsDir(root, v)}/corpus")
        (oldDf.unionByName(dfreq).groupBy(col("term"))
           .agg(sum(col("df")).as("df")),
         oldCorpus.unionByName(corpus)
           .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))
      }
    Store.optimizeLayout(mergedDf, s"${statsDir(root, v + 1)}/termstats",
      Seq("term"), 1, bloomCols = Seq("term"))
    mergedCorpus.coalesce(1).write.mode("overwrite")
      .parquet(s"${statsDir(root, v + 1)}/corpus")
    publishAppend(root, at, tag) // after every artifact is on disk
    }

  /** Mark documents DELETED — Lucene's exact deleted-doc semantics: the
    * tombstoned doc's postings are excluded from every [[topK]] from this
    * moment on (it can never be returned), but the corpus statistics
    * (df / n_docs / avgdl) stay STALE — they still count the deleted
    * docs — until [[compact]] physically reclaims the postings and
    * recomputes the stats from the survivors. That is literally how
    * Lucene serves deletes before a segment merge, and it keeps the
    * pre-compaction read SQL-replayable (whole-corpus stats CTEs +
    * a tombstone WHERE on the scoring rows — the s3e oracle). Idempotent
    * via `tag`. */
  def delete(ids: DataFrame, idCol: String, root: String,
             tag: Option[String] = None): Unit =
    commitDelete(ids, idCol, root, "bm25-delete", tag)

  /** UPSERT — update a document IN PLACE by id: Lucene's update IS
    * delete + add, and this is exactly that under one idempotence tag —
    * a versioned tombstone (old postings die at their horizon) plus a
    * same-id [[append]] (the new text serves from its own segment).
    * Stats semantics follow the delete contract one step further: until
    * [[compact]] recomputes from survivors, df/n_docs/avgdl count BOTH
    * versions (the append merged the new version's increments in, the
    * old version's were never subtracted) — the s3f oracle states that
    * double-counted interim exactly, and compaction is the merge moment
    * where the stats catch up. */
  def upsert(delta: DataFrame, idCol: String, textCol: String, root: String,
             numFiles: Int = 8, tag: Option[String] = None): Unit =
    commitUpsert(delta, idCol, root, "bm25-upsert", tag)(
      append(delta, idCol, textCol, root, numFiles, tag))

  /** Union of committed postings segments with per-row LOGICAL segment
    * provenance (`__seg`) — the horizon the versioned tombstones cut
    * against. */
  private def readSegsTagged(spark: SparkSession, root: String): DataFrame =
    readTagged(committed(root).entries)(k => spark.read.parquet(segDir(root, k.toInt)))

  /** BM25 top-k across all committed segments, idf/length-norm applied at
    * query time from the merged stats — hash-exact the full-rebuild
    * scores (with tombstones: survivors' scores, stale stats — see
    * [[delete]]). */
  def topK(spark: SparkSession, root: String, idCol: String,
           terms: Seq[String], k: Int): DataFrame = {
    val v = requireInit(root)
    val stats = spark.read.parquet(s"${statsDir(root, v)}/corpus")
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val dfreq = spark.read.parquet(s"${statsDir(root, v)}/termstats")
      .where(col("term").isin(terms: _*)) // |terms| rows
    filterTombs(spark, root,
        readSegsTagged(spark, root)
          .where(col("term").isin(terms: _*)), // pushed: In(term, ...) + bloom
        Seq(idCol))
      .drop("__seg")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * (col("tf") * lit(Bm25.K1 + 1)) /
          (col("tf") + lit(Bm25.K1) *
            (lit(1 - Bm25.B) + lit(Bm25.B) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(round(sum(col("w")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Compact all committed segments into a single fresh one. Queries pay
    * one scan task set per segment, so a long-running streaming ingest
    * (one segment per micro-batch) eventually wants its tail folded —
    * the standard LSM discipline. Stats are already merged (they carry
    * no per-segment state), so compaction only rewrites postings:
    * read segments 0..v-1, write the union as the new seg/0 into a fresh
    * root, re-publish the CURRENT stats as v=1. The result serves
    * hash-identical scores (postings rows are the same multiset).
    * Building into `newRoot` keeps the old index readable throughout —
    * callers swap the root pointer when done (the same publish-last
    * discipline as [[append]]).
    */
  def compact(spark: SparkSession, root: String, newRoot: String,
              idCol: String, numFiles: Int = 8,
              tag: Option[String] = None): Unit =
    SegmentStore.withWriterLease(root, "bm25-compact") {
    val v = requireInit(root)
    val hasTombs = SegmentStore.tombIds(spark, tombsBase(root)).nonEmpty
    val survivors = filterTombs(spark, root,
      readSegsTagged(spark, root), Seq(idCol)).drop("__seg")
    Store.optimizeLayout(survivors,
      segDir(newRoot, 0), Seq("term", idCol), numFiles,
      bloomCols = Seq("term"))
    if (!hasTombs) {
      // stats carry no per-segment state — republish as-is
      spark.read.parquet(s"${statsDir(root, v)}/termstats")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${statsDir(newRoot, 1)}/termstats")
      spark.read.parquet(s"${statsDir(root, v)}/corpus")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${statsDir(newRoot, 1)}/corpus")
    } else {
      // deletes applied: the fresh root serves scores hash-exact a
      // rebuild without the deleted docs, and starts with a clear ledger
      recomputeStats(spark, segDir(newRoot, 0), idCol, statsDir(newRoot, 1))
    }
    SegmentStore.publish(commitBase(newRoot), 1, tag)
    }

  /** Stats of the postings segment at `postings` written as the version
    * dir `out` — the Lucene-merge moment where stale df/n_docs/avgdl
    * catch up with the survivors. Postings are distinct on (term, id) so
    * count(1) == countDistinct(id), and (id, dl) pairs are unique per
    * doc. */
  private def recomputeStats(spark: SparkSession, postings: String,
                             idCol: String, out: String): Unit = {
    val written = spark.read.parquet(postings)
    Store.optimizeLayout(
      written.groupBy(col("term")).agg(count(lit(1)).as("df")),
      s"$out/termstats", Seq("term"), 1, bloomCols = Seq("term"))
    written.select(col(idCol), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$out/corpus")
  }

  /** Size-tiered auto-compaction trigger — the policy half of the LSM
    * story: reads fan in over every committed segment, so segment count
    * is the read-amplification dial. When it exceeds `maxSegments`, fold
    * into a fresh versioned root (old root readable throughout) and
    * return the new root for the caller to swap its pointer to;
    * otherwise return `root` unchanged. The new root's name carries the
    * source version, so repeated triggers never collide. */
  def compactIfNeeded(spark: SparkSession, root: String, idCol: String,
                      maxSegments: Int, tag: Option[String] = None): String =
    SegmentStore.compactIfNeeded(root, version(root), maxSegments)(
      compact(spark, root, _, idCol, tag = tag))

  /** TAIL-FOLD: fold every postings segment past the first `keep` into
    * ONE fresh segment IN THIS ROOT — O(tail), not O(corpus), write cost;
    * the manifest, horizon algebra and GC are [[SegmentedRoot]]'s fold
    * (see docs/PLANS.md). The fold keeps the seek layout (term-sorted +
    * bloom), so pushed `term IN (...)` pruning survives folds.
    *
    * Stats semantics follow the family's delete contract: a PARTIAL fold
    * (`keep >= 1`) republishes the current stats VERBATIM — physically
    * reclaiming dead tail postings changes which rows score, exactly
    * like the read-side tombstone filter did, while df/n_docs/avgdl stay
    * stale until a full merge (Lucene's deleted docs before a merge). A
    * FULL fold (`keep = 0`) IS the merge moment: every posting is read
    * anyway, so stats are recomputed from the survivors and the absorbed
    * ledger history is rebased away — byte-for-byte the [[compact]]
    * catch-up, without rewriting a prefix that doesn't exist. */
  def tailFold(spark: SparkSession, root: String, idCol: String,
               keep: Int = 1, numFiles: Int = 8,
               tag: Option[String] = None): Unit = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    commitFold(root, keep, tag, "bm25-tail-fold") { slot =>
      val v = slot.at.v
      val folded = s"$root/seg/${slot.phys}"
      Store.optimizeLayout(
        filterTombs(spark, root,
          readTagged(slot.tail)(k => spark.read.parquet(segDir(root, k.toInt))),
          Seq(idCol)).drop("__seg"),
        folded, Seq("term", idCol), numFiles, bloomCols = Seq("term"))
      if (keep == 0) // the merge moment: stats catch up
        recomputeStats(spark, folded, idCol, statsDir(root, v + 1))
      else {
        // partial fold: stats stay stale by contract — republish verbatim
        // (through optimizeLayout so the termstats seek layout survives)
        Store.optimizeLayout(
          spark.read.parquet(s"${statsDir(root, v)}/termstats"),
          s"${statsDir(root, v + 1)}/termstats", Seq("term"), 1,
          bloomCols = Seq("term"))
        spark.read.parquet(s"${statsDir(root, v)}/corpus")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${statsDir(root, v + 1)}/corpus")
      }
      slot.folded()
    }
  }

  /** Size-tiered trigger for [[tailFold]] — fold on READ fan-in, the
    * suffix chosen by [[SegmentStore.tieredFoldStart]] (longest
    * trailing run of similar-size segments; see that scaladoc).
    * `keep < maxSegments` required and the ladder-fit warning returned —
    * see [[SegmentedRoot.foldOnFanIn]].
    *
    * `driftFoldShare` closes the loop from the [[stats]] gauge to an
    * ACTION (r13 verdict: "stale stats are visible but nothing acts on
    * them"): when the stale-stats drift share
    * `stats_drift_docs / stats_n_docs` exceeds the given fraction, this
    * trigger escalates to the FULL merge moment ([[tailFold]] keep=0 —
    * stats recomputed from the surviving postings, drift back to 0)
    * regardless of fan-in, so a delete-heavy CDC stream catches its
    * scoring statistics up without an operator call. The default 1.0
    * disables the check and its cost (one distinct count over surviving
    * postings per trigger — an operator opting in pays it knowingly;
    * partial folds stay metadata-cheap). */
  def tailFoldIfNeeded(spark: SparkSession, root: String, idCol: String,
                       maxSegments: Int, keep: Int = 1,
                       tag: Option[String] = None,
                       driftFoldShare: Double = 1.0): Option[String] = {
    require(driftFoldShare > 0.0 && driftFoldShare <= 1.0,
      s"driftFoldShare must be in (0, 1], got $driftFoldShare " +
        "(1.0 disables the drift check)")
    foldOnFanIn(root, maxSegments, keep, fullFold = driftFoldShare < 1.0 && {
      val st = stats(spark, root, idCol)
      st("stats_n_docs") > 0 &&
        st("stats_drift_docs").toDouble / st("stats_n_docs") > driftFoldShare
    })(tailFold(spark, root, idCol, _, tag = tag))
  }

  /** Ensure an incrementally-GROWN documents index for `dataDir`: half the
    * corpus at init, the rest appended — exercising the real maintenance
    * path while staying oracle-checkable against whole-corpus SQL. */
  def ensure(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, Name)(grownHalves(spark, dataDir, _))

  /** The oracle fixtures' grown index at `p` (even doc ids at init, odd
    * appended); returns the documents. */
  private def grownHalves(spark: SparkSession, dataDir: String,
                          p: String): DataFrame = {
    val all = graft.tables.Tables.documents(spark, dataDir)
    init(all.where(col("doc_id") % 2 === 0), "doc_id", "text", p)
    append(all.where(col("doc_id") % 2 === 1), "doc_id", "text", p)
    all
  }

  val UpsertName = "bm25_upsert_v1"

  /** [[ensure]]'s grown index with a same-id document UPSERT applied —
    * memoized for the `s3f_bm25_upsert` oracle: every doc_id % 11 == 5
    * (with a +1 neighbor) takes its neighbor's TEXT in place. Serving
    * reads score the CURRENT texts under the documented interim stats
    * (both versions counted until compaction). */
  def ensureUpserted(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, UpsertName) { p =>
      val all = grownHalves(spark, dataDir, p)
      val updated = all.as("a")
        .join(all.select(col("doc_id").as("nid"), col("text").as("ntext")),
          col("a.doc_id") + 1 === col("nid"))
        .where(pmod(col("a.doc_id"), lit(11)) === 5)
        .select(col("a.doc_id").as("doc_id"), col("ntext").as("text"))
      upsert(updated, "doc_id", "text", p, tag = Some("demo_upsert"))
    }

  val TailFoldName = "bm25_tailfold_v1"

  /** Grown index with a delete + a same-id upsert and then a TAIL-FOLD
    * (keep = 1) — memoized for the `s3i_bm25_tailfold` oracle. A partial
    * fold is pure postings reorganization under the family's stale-stats
    * contract: dead tail postings are physically reclaimed (same rows
    * the read-side filter excluded) and the stats republish VERBATIM, so
    * the read must equal the s3f-style interim SQL (stats over originals
    * ∪ new versions, scoring rows over current texts) minus the deleted
    * docs. Delete and upsert sets are disjoint so the oracle composes. */
  def ensureTailFolded(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, TailFoldName) { p =>
      val all = grownHalves(spark, dataDir, p)
      delete(all.where(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id")), "doc_id", p, tag = Some("demo_tf_delete"))
      val updated = all.as("a")
        .join(all.select(col("doc_id").as("nid"), col("text").as("ntext")),
          col("a.doc_id") + 1 === col("nid"))
        .where(pmod(col("a.doc_id"), lit(11)) === 5 &&
          pmod(col("a.doc_id"), lit(7)) =!= 3)
        .select(col("a.doc_id").as("doc_id"), col("ntext").as("text"))
      upsert(updated, "doc_id", "text", p, tag = Some("demo_tf_upsert"))
      tailFold(spark, p, "doc_id", keep = 1, tag = Some("demo_tf_fold"))
    }

  val TombName = "bm25_tomb_v1"

  /** [[ensure]]'s grown index with a committed tombstone segment on top
    * (doc_id % 7 == 3 deleted) — memoized for the `s3e_bm25_tombstone`
    * oracle: survivors' scores under STALE whole-corpus stats, i.e. the
    * plain corpus BM25 SQL plus a tombstone WHERE on the result. */
  def ensureTombstoned(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, TombName) { p =>
      val all = grownHalves(spark, dataDir, p)
      delete(all.where(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id")), "doc_id", p, tag = Some("demo_delete"))
    }
}
