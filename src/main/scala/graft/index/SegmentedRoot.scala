package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

import SegmentStore.{Manifest, ManifestEntry}

/** The commit protocol of a mutable segmented index root, in ONE place
  * for the three families that extend it ([[IncrementalBm25]],
  * [[IncrementalIvf]], [[IncrementalKnn]]), on top of [[SegmentStore]]'s
  * versions, markers, manifests and tombstone ledger. Each family keeps
  * only its own segment write, read and merge, and its own rules (BM25
  * stats, IVF centroids, kNN candidate arms and repair).
  *
  * Family parameters:
  *   - `commitDir`: the root-relative versions base — `stats` for BM25
  *     (its version dirs carry the merged stats), `commit` for IVF and kNN;
  *   - `entryPrefix`: manifest entry naming — `seg/<k>` for BM25 and IVF,
  *     a bare `<k>` for kNN, whose five artifact kinds share one number;
  *   - `segKinds`: the physical segment dirs the GC sweeps and the size
  *     ladder sums — `seg`, or the five kNN kinds.
  *
  * A root reads positionally (entries `0..v-1`, logical == physical ==
  * position) until its first fold publishes a manifest; from then on the
  * committed manifest IS the segment list (see the manifest section of
  * [[SegmentStore]]).
  *
  * Replay rule: [[committedHasTag]] looks at EVERY committed version, not
  * only the latest — one at-least-once trigger commits up to three
  * versions (upsert, insert append, fold), so a replayed step must find
  * its tag below the top too, or it re-applies.
  */
abstract class SegmentedRoot(commitDir: String, entryPrefix: String,
                             segKinds: Seq[String]) {

  protected def commitBase(root: String): String = s"$root/$commitDir"
  protected def tombsBase(root: String): String = s"$root/tombs"

  /** Committed version: max marked `v=N` under the commit base (0 =
    * uninitialized). */
  def version(root: String): Int = SegmentStore.version(commitBase(root))

  /** Idempotence check for at-least-once writers: whether ANY committed
    * version carries `tag` (tags land before the commit marker, so a
    * visible tag of a committed version is itself committed). */
  def committedHasTag(root: String, tag: String): Boolean =
    SegmentStore.anyCommittedHasTag(commitBase(root), tag)

  protected def requireInit(root: String): Int = {
    val v = version(root)
    require(v > 0, s"index at $root not initialized — call init first")
    v
  }

  protected def entryName(phys: Int): String = s"$entryPrefix$phys"
  protected def physOf(e: ManifestEntry): String = e.dir.stripPrefix(entryPrefix)

  /** The committed state at version `v`: its manifest, or the positional
    * list for a root that never folded. */
  protected final class Committed(val v: Int, val manifest: Option[Manifest]) {
    def entries: Seq[ManifestEntry] = manifest.map(_.entries).getOrElse(
      (0 until v).map(k => ManifestEntry(entryName(k), k.toLong)))
    def nextPhysical: Int = manifest.fold(v)(_.nextPhysical)
    /** The horizon a delete committed now carries: strictly above every
      * live row's `__seg`, including folded segments. */
    def nextLogical: Long = manifest.fold(v.toLong)(_.nextLogical)
    /** Ledger version the last full fold absorbed — readers skip ledger
      * segments at or below it (their kills are physically gone). */
    def tombRebase: Int = manifest.fold(0)(_.tombRebase)
    def repairRebase: Int = manifest.fold(0)(_.repairRebase)
  }

  protected def committedAt(root: String, v: Int): Committed =
    new Committed(v, SegmentStore.manifestAt(commitBase(root), v))
  protected def committed(root: String): Committed =
    committedAt(root, version(root))

  /** Read fan-in (live segment count) — the fold trigger's number; the
    * version clock stops reflecting it after the first fold. */
  def fanIn(root: String): Int = committed(root).entries.size

  /** Per-live-segment byte totals across the segment kinds — the size
    * input of the fold ladder and of [[SegmentStore.ladderCheck]]. Order
    * matches the entry list. */
  protected def segmentSizes(root: String): Seq[Long] =
    committed(root).entries.map(e => segKinds.map(k =>
      SegmentStore.treeBytes(s"$root/$k/${physOf(e)}")).sum)

  /** Union of one artifact kind over `entries`, each row tagged with its
    * logical `__seg` — from the entry, or from the stored column of a
    * mixed-horizon (folded, `logicalSeg == -1`) kNN segment. `read` maps
    * a physical number to the kind's frame. */
  protected def readTagged(entries: Seq[ManifestEntry])
                          (read: String => DataFrame): DataFrame =
    entries.map { e =>
      val df = read(physOf(e))
      if (e.logicalSeg >= 0) df.withColumn("__seg", lit(e.logicalSeg)) else df
    }.reduce(_ unionByName _)

  /** Committed tombstones past the last full fold's rebase, or None. */
  protected def tombs(spark: SparkSession, root: String): Option[DataFrame] =
    SegmentStore.tombIds(spark, tombsBase(root), committed(root).tombRebase)

  /** Exclude dead rows of `df` (which carries `__seg`) on `cols`. */
  protected def filterTombs(spark: SparkSession, root: String, df: DataFrame,
                            cols: Seq[String]): DataFrame =
    SegmentedRoot.filterTombsWith(tombs(spark, root), df, cols)

  /** Publish version `at.v + 1` after an append wrote physical segment
    * `at.nextPhysical`: positional roots publish the bare marker
    * (position == version), manifest roots publish the appended entry in
    * the same atomic step. */
  protected def publishAppend(root: String, at: Committed,
                              tag: Option[String]): Unit = at.manifest match {
    case None => SegmentStore.publish(commitBase(root), at.v + 1, tag)
    case Some(m) => SegmentStore.publishManifest(commitBase(root), at.v + 1, tag,
      m.copy(
        entries = m.entries :+ ManifestEntry(entryName(m.nextPhysical), m.nextLogical),
        nextLogical = m.nextLogical + 1,
        nextPhysical = m.nextPhysical + 1))
  }

  /** Horizon-tagged delete: existing rows of the ids die, a later
    * re-insert of the same id serves from its own segment (Lucene
    * delete-then-add). Under the lease a delete never interleaves a fold,
    * so its horizon can never equal a folded segment's logical number.
    * Idempotent via `tag`. */
  protected def commitDelete(ids: DataFrame, idCol: String, root: String,
                             owner: String, tag: Option[String]): Unit =
    SegmentStore.withWriterLease(root, owner) {
      requireInit(root)
      SegmentStore.tombWrite(ids, idCol, tombsBase(root), tag,
        beforeSeg = committed(root).nextLogical)
    }

  /** Upsert's protocol half: a versioned tombstone at the current horizon,
    * then the family's same-id `append` under the caller's tag (the
    * lease is reentrant, so the nested append re-enters). */
  protected def commitUpsert(ids: DataFrame, idCol: String, root: String,
                             owner: String, tag: Option[String])
                            (append: => Unit): Unit =
    SegmentStore.withWriterLease(root, owner) {
      requireInit(root)
      SegmentStore.tombWrite(ids.select(col(idCol)), idCol, tombsBase(root),
        tag.map(t => s"${t}_t"), beforeSeg = committed(root).nextLogical)
      if (!tag.exists(committedHasTag(root, _))) append
    }

  /** Sweep physical segment dirs neither of the LAST TWO committed
    * versions references — folded-away tails past their one-generation
    * grace (a reader planned against the previous manifest finishes
    * cleanly), and orphans of crashed appends. Runs at the start of
    * every fold, under the writer lease, so no append is in flight. */
  private def gcUnreferencedSegs(root: String): Unit = {
    val v = version(root)
    val retained = (committedAt(root, v).entries ++
      committedAt(root, v - 1).entries).map(physOf).toSet
    segKinds.foreach { kind =>
      SegmentStore.listChildDirs(s"$root/$kind").filterNot(retained)
        .foreach(c => SegmentStore.deleteTree(s"$root/$kind/$c"))
    }
  }

  /** One fold's slot: the committed state it folds from, the ledger clock
    * read BEFORE the tail, and the prefix/tail split. */
  protected final class FoldSlot(val at: Committed, val tombV: Int,
                                 val prefix: Seq[ManifestEntry],
                                 val tail: Seq[ManifestEntry]) {
    def phys: String = at.nextPhysical.toString

    /** The fold's manifest: the prefix plus ONE folded entry. By default
      * the entry takes the next logical number — above every committed
      * horizon, so existing ledger entries spare the folded rows (their
      * kills are baked in) while still killing prefix rows, with no ledger
      * rewrite, and a delete committed after the fold carries a yet-higher
      * horizon that kills folded rows normally. A full fold (empty prefix)
      * leaves no live target for any ledger entry, so it records the
      * absorbed ledger version (`tombRebase`): readers skip it, bounding
      * the anti-join input without resetting the ledger's clock. A
      * mixed-horizon entry (`-1`, rows keep their `__seg` as a column)
      * consumes no number and rebases nothing. */
    def folded(entryLogical: Long = at.nextLogical): Manifest = {
      val mixed = entryLogical < 0
      at.manifest.getOrElse(Manifest(Nil, at.nextLogical, at.nextPhysical, 0))
        .copy(
          entries = prefix :+ ManifestEntry(entryName(at.nextPhysical), entryLogical),
          nextLogical = if (mixed) at.nextLogical else at.nextLogical + 1,
          nextPhysical = at.nextPhysical + 1,
          tombRebase = if (prefix.isEmpty && !mixed) tombV else at.tombRebase)
    }
  }

  /** The fold skeleton: skip a committed `tag`, then under the writer
    * lease sweep unreferenced dirs, split the entries at `keep`, and —
    * when the tail is non-empty — let `write` put the folded segment at
    * `slot.phys` and return the manifest, published with the version bump
    * and `tag` in ONE atomic marker. A crash before the marker leaves an
    * orphan the next fold's sweep reclaims. */
  protected def commitFold(root: String, keep: Int, tag: Option[String],
                           owner: String)(write: FoldSlot => Manifest): Unit =
    if (!tag.exists(committedHasTag(root, _)))
      SegmentStore.withWriterLease(root, owner) {
        requireInit(root)
        gcUnreferencedSegs(root)
        val at = committed(root)
        if (at.entries.size > keep) { // else: empty tail — nothing to fold
          // ledger clock read BEFORE the reads it stamps as absorbed: a
          // full fold's rebase names a version at or below what baked in
          val tombV = SegmentStore.tombVersion(tombsBase(root))
          val (prefix, tail) = at.entries.splitAt(keep)
          val m = write(new FoldSlot(at, tombV, prefix, tail))
          SegmentStore.publishManifest(commitBase(root), at.v + 1, tag, m)
        }
      }

  /** Size-tiered fold trigger: when the READ fan-in exceeds
    * `maxSegments`, `fold` the suffix [[SegmentStore.tieredFoldStart]]
    * selects (the longest trailing run of similar-size segments — the
    * logarithmic merge ladder). `keep` floors the fold start and must sit
    * BELOW `maxSegments`, or every trigger would re-fold one segment
    * forever without reducing fan-in. Returns
    * [[SegmentStore.ladderCheck]]'s warning when `maxSegments` is too
    * tight for the observed size tiers (None = fits, or no fold ran).
    * A true `fullFold` (a family's own escalation, evaluated after the
    * require) folds everything (`fold(0)`) regardless of fan-in. */
  protected def foldOnFanIn(root: String, maxSegments: Int, keep: Int,
                            fullFold: => Boolean = false)
                           (fold: Int => Unit): Option[String] = {
    require(keep < maxSegments,
      s"keep ($keep) must be < maxSegments ($maxSegments): the trigger " +
        "would fold one segment per trigger forever, never reducing fan-in")
    if (fullFold) { fold(0); None }
    else if (fanIn(root) <= maxSegments) None
    else {
      val sizes = segmentSizes(root)
      fold(SegmentStore.tieredFoldStart(sizes, keep, maxSegments))
      SegmentStore.ladderCheck(sizes, maxSegments)
    }
  }
}

object SegmentedRoot {

  /** Exclude dead rows from `df` on `cols`: a row is dead when its id is
    * tombstoned AND its segment predates the tombstone's horizon
    * (`__seg < before_seg`; plain deletes carry Long.MaxValue, an
    * upsert's bounded horizon spares the re-inserted segment). Broadcast
    * anti-joins — the set is bounded by fold cadence. Every join's build
    * uses FIXED aliases so the broadcast subtrees are canonically
    * identical and the exchange is built once and reused, instead of once
    * per pushed-down union arm. */
  def filterTombsWith(tombs: Option[DataFrame], df: DataFrame,
                      cols: Seq[String]): DataFrame =
    tombs.fold(df) { t =>
      cols.foldLeft(df) { (d, c) =>
        val tt = broadcast(t.select(col(t.columns.head).as("__tomb_id"),
          col("before_seg").as("__tomb_bs")))
        d.join(tt, d(c) === tt("__tomb_id") && d("__seg") < tt("__tomb_bs"),
          "left_anti")
      }
    }
}
