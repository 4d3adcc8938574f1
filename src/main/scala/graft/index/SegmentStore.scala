package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The versioned-segment storage primitives under every incremental
  * index — versions, markers, manifests, the tombstone ledger, the writer
  * lease and snapshots (reference analogue: Qdrant's collection
  * segments publish through one storage layer, not one per index type,
  * `scripts/indexing.py:214-260`). The root-level commit protocol the
  * three families share on top of these is [[SegmentedRoot]].
  *
  * Protocol (pinned by the grown≡rebuilt IndexSpec cases):
  *
  *   - versions live under a `versions base` directory as `v=<N>` children;
  *   - a version is COMMITTED iff its zero-byte `_COMMITTED` marker
  *     exists — directory existence is NOT a commit (parquet writers
  *     create the directory long before the data is durable);
  *   - writers put every artifact of version N on disk first, optional
  *     idempotence `_tag_*` files next, and create the marker LAST, so
  *     the version (with its tags) becomes visible in one atomic
  *     namespace operation and a crash or concurrent reader between the
  *     two sees only the previous version;
  *   - the committed version of a root is max(N) over marked children —
  *     orphan higher directories from crashed writers are ignored and
  *     safely overwritten by the retry.
  *
  * All paths go through the Hadoop [[FileSystem]] API — resolved through
  * the active session's `hadoopConfiguration` so `hdfs://`, `s3a://` and
  * plain POSIX roots all work (the previous `java.io.File` markers
  * restricted index roots to a local filesystem while the segment parquet
  * already went through Hadoop FS — the one split a "100 TB" deployment
  * cannot live with). On HDFS/POSIX the marker create is an atomic
  * namespace op; on object stores it is one PUT, which is
  * read-after-write consistent on S3 since 2020.
  */
object SegmentStore {

  val CommitMarker = "_COMMITTED"

  /** Thrown when a writer-lease acquisition finds the lease held by
    * another writer ([[withWriterLease]]) — the LOUD refusal that turns
    * the single-writer prose contract into a checked one. */
  final class LeaseHeldException(msg: String)
    extends IllegalStateException(msg)

  /** The catalog's build-complete marker ([[IndexCatalog]] writes it
    * after a successful build and refuses to adopt a tree without it).
    * Named here because [[snapshot]]'s copy ordering must treat it as
    * the LAST file of a tree, not as data. */
  val ReadyMarker = "_GRAFT_INDEX_READY"

  /** FileSystem for `path`, resolved through the active Spark session's
    * Hadoop configuration when one exists (credentials, fs.* overrides),
    * plain defaults otherwise — keeps callers' String-path signatures. */
  private def fsFor(path: String): (FileSystem, Path) = {
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  /** Zero-byte file created in one namespace operation (overwrite-safe:
    * a retried publish of the same version is idempotent). */
  private def touch(fs: FileSystem, p: Path): Unit =
    fs.create(p, true).close()

  /** Every file under `p`, recursively (one listing, metadata-only). */
  private def filesUnder(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus).toSeq
  }

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  def versionDir(versionsBase: String, v: Int): String =
    s"$versionsBase/v=$v"

  /** Existence probe through the same FS resolution as every other path
    * here — for callers that must detect optional per-segment artifacts
    * (e.g. pre-v3 [[IncrementalKnn]] roots lack `vecs/`/`coarse/`
    * segments and read their assign segments instead). */
  def pathExists(path: String): Boolean = {
    val (fs, p) = fsFor(path)
    fs.exists(p)
  }

  // ---- Writer lease (the single-writer contract, CHECKED) ----
  //
  // Every mutation of an index root (append/upsert/delete/fold/retrain)
  // assumes it is the only writer: the fold's GC sweeps any physical dir
  // the committed manifests don't reference — which would include a
  // CONCURRENT in-flight append's uncommitted dir — and a delete committed
  // mid-fold could take a horizon equal to the folded segment's logical
  // number (sparing rows whose kill was never baked in: silent
  // resurrection). The maintenance loops are single-writer by construction,
  // but `POST /api/admin/tail-fold` (or any second process) is
  // operator-reachable concurrently — so the contract is now CHECKED, not
  // prose: every mutator acquires the root's lease file and a held lease
  // refuses loudly ([[LeaseHeldException]]) instead of corrupting silently.
  //
  // Mechanics: one zero-ish lease file per index root
  // (`<root>/_WRITER_LEASE`), created with overwrite=false — an atomic
  // namespace op on HDFS/POSIX (object stores: one conditional PUT
  // where supported; elsewhere the lease is advisory-but-loud, strictly
  // better than the unchecked prose). The file carries
  // `owner \t stamp-millis \t token` (token unique per acquisition). A
  // held lease is HEARTBEATED: a daemon timer rewrites the stamp every
  // `staleMs/3`, so a legitimately-long fold (a full reclaimFold is
  // O(live corpus) at the design point — hours) never looks stale to a
  // second writer; only a holder that CRASHED (or whose JVM paused past
  // `staleMs`) leaves a breakable lease. Breaking is rename-then-verify,
  // never a blind delete: the breaker renames the lease to a unique
  // tombstone (rename of a vanished file fails — racing breakers
  // resolve there), re-reads the displaced bytes, and proceeds only
  // when they EQUAL the stale content it observed — displacing a fresh
  // lease recreated in between restores it and refuses. A holder whose
  // lease was broken anyway (the GC-pause case) learns LOUDLY: its next
  // heartbeat sees a missing/foreign token and flags eviction, and the
  // lease release throws instead of returning success.
  //
  // In-process the lease is REENTRANT per thread (an upsert's nested
  // append re-enters); nesting MUST stay on the acquiring thread — a
  // nested future/executor thread of the same JVM is refused exactly
  // like a second process.

  val LeaseFile = "_WRITER_LEASE"

  /** Default stale-lease age: generous against slow folds, small against
    * operator patience after a crash. */
  val DefaultLeaseStaleMs: Long = 30L * 60 * 1000

  // in-process state of an OUTER (non-reentrant) hold: acquiring
  // thread, nesting depth, acquisition token, eviction flag set by the
  // heartbeat when the on-disk lease stops being ours. ConcurrentHashMap
  // keyed by qualified lease path because suites exercise multiple roots
  // from multiple threads.
  private final class LeaseHold(val tid: Long, val token: String,
                                val owner: String, val staleMs: Long) {
    var depth: Int = 1
    @volatile var evicted: Boolean = false
    @volatile var released: Boolean = false
    @volatile var renewal: java.util.concurrent.ScheduledFuture[_] = null
  }
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, LeaseHold]()

  // one shared daemon timer heartbeats every held lease; sized 1 because
  // a beat is one tiny FS write every staleMs/3 per held root
  private lazy val leaseHeartbeats = {
    val ex = new java.util.concurrent.ScheduledThreadPoolExecutor(1, r => {
      val t = new Thread(r, "graft-lease-heartbeat")
      t.setDaemon(true)
      t
    })
    ex.setRemoveOnCancelPolicy(true)
    ex
  }

  private def leaseBody(owner: String, token: String): Array[Byte] =
    s"$owner\t${System.currentTimeMillis()}\t$token".getBytes("UTF-8")

  /** Create `p` with `body` iff it does not exist, ATOMICALLY — the one
    * primitive the lease's exclusivity stands on. Hadoop's
    * LocalFileSystem.create(overwrite=false) is CHECK-THEN-ACT (an
    * exists probe, then a plain FileOutputStream), so two racing
    * creators can BOTH "succeed" — the r14 two-breaker race test caught
    * exactly that as two concurrent holders. On `file:` roots the
    * O_EXCL guarantee comes from NIO's CREATE_NEW (one open(2) with
    * O_CREAT|O_EXCL); on HDFS the namenode serializes create, and on
    * object stores with conditional PUT the FS connector does —
    * elsewhere the lease stays advisory-but-loud as documented. */
  private def createNoOverwrite(fs: FileSystem, p: Path,
                                body: Array[Byte]): Boolean =
    if (fs.getUri.getScheme == "file") {
      try {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        if (local.getParent != null)
          java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.write(local, body,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(body) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }

  /** Raw lease bytes, one attempt: None = file absent (holder released);
    * an unreadable file (read-during-rewrite, object-store consistency)
    * propagates as IOException for the caller's retry policy. */
  private def readLeaseRaw(fs: FileSystem, p: Path): Option[Array[Byte]] =
    if (!fs.exists(p)) None else Some(readBytes(fs, p))

  /** (owner, stamp, token) best-effort parse; a torn/garbage file parses
    * to stamp 0 (an always-stale CANDIDATE — the rename-verify break
    * protects a live holder caught mid-rewrite, because the displaced
    * bytes will have changed by the time the breaker compares them). */
  private def parseLease(raw: Array[Byte]): (String, Long, String) = {
    val parts = new String(raw, "UTF-8").split('\t')
    (parts.headOption.getOrElse("?"),
      parts.lift(1).flatMap(_.toLongOption).getOrElse(0L),
      parts.lift(2).getOrElse(""))
  }

  /** Run `body` holding the writer lease of index root `root`; acquire
    * refuses loudly ([[LeaseHeldException]]) when another writer holds a
    * fresh lease. Reentrant within the acquiring thread ONLY — nested
    * work that hops to another thread of the same JVM (a future, an
    * executor task) is refused as a foreign writer by design; keep the
    * mutation path on the acquiring thread. A heartbeat renews the lease
    * stamp every `staleMs/3` for as long as `body` runs, so a fold that
    * legitimately outlives `staleMs` stays unbreakable; if the lease is
    * broken anyway (JVM pause past `staleMs`, operator intervention),
    * the heartbeat flags eviction and this call THROWS
    * [[LeaseHeldException]] after `body` completes instead of returning
    * success — a possibly-conflicting mutation is never reported clean.
    * The lease file is removed on exit (normal or exceptional); a crash
    * leaves it to age out. */
  def withWriterLease[T](root: String, owner: String,
                         staleMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    val (fs, p0) = fsFor(s"$root/$LeaseFile")
    val leasePath = fs.makeQualified(p0)
    val key = leasePath.toString
    val tid = Thread.currentThread().getId
    val held = heldLeases.get(key)
    if (held != null && held.tid == tid) { // reentrant hold
      held.depth += 1
      try body
      finally held.depth -= 1
    } else {
      val token = java.util.UUID.randomUUID().toString
      acquireLeaseFile(fs, leasePath, root, owner, staleMs, token)
      val hold = new LeaseHold(tid, token, owner, staleMs)
      heldLeases.put(key, hold)
      val period = math.max(staleMs / 3, 20L)
      hold.renewal = leaseHeartbeats.scheduleAtFixedRate(
        () => try renewLease(root) catch { case _: Exception => () },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      var bodyOk = false
      try { val r = body; bodyOk = true; r }
      finally {
        hold.renewal.cancel(false)
        // The release is SERIALIZED with any in-flight heartbeat on the
        // hold monitor: a beat that already passed its hold lookup either
        // finishes its read+overwrite before we enter (we then delete the
        // file it just rewrote), or it enters after us, sees `released`,
        // and writes nothing. Without this, a beat landing between our
        // delete and its own overwrite resurrects a holderless lease that
        // wedges the root for the full stale age (r14 ADVICE).
        val released = hold.synchronized {
          hold.released = true
          heldLeases.remove(key)
          !hold.evicted && releaseLease(fs, leasePath, hold)
        }
        if (bodyOk && !released)
          throw new LeaseHeldException(
            s"writer lease on $root was broken while held by '$owner' — " +
              "another writer may have mutated the root concurrently; " +
              "verify the index before trusting this mutation")
      }
    }
  }

  /** Renew the in-process hold on `root` NOW: rewrite the lease stamp
    * under the hold's token. Throws [[LeaseHeldException]] (and flags
    * the hold evicted) when the on-disk lease is gone or carries a
    * foreign token — i.e. a breaker legitimately evicted us. Transient
    * read/write failures are left for the next beat. Package-visible so
    * tests can drive the heartbeat deterministically. */
  private[graft] def renewLease(root: String): Unit = {
    val (fs, p0) = fsFor(s"$root/$LeaseFile")
    val leasePath = fs.makeQualified(p0)
    val hold = heldLeases.get(leasePath.toString)
    if (hold == null || hold.evicted) return
    // The read+overwrite is ATOMIC w.r.t. release (same hold monitor):
    // a beat can never recreate the lease after the release path deleted
    // it (r14 ADVICE (a)).
    hold.synchronized {
      if (hold.evicted || hold.released) return
      val current =
        try readLeaseRaw(fs, leasePath)
        catch { case _: java.io.IOException => return } // transient: next beat
      val ours = current.exists(raw => parseLease(raw)._3 == hold.token)
      if (!ours) {
        hold.evicted = true
        if (hold.renewal != null) hold.renewal.cancel(false)
        throw new LeaseHeldException(
          s"writer lease on $root was broken while held by '${hold.owner}' " +
            "(heartbeat found a missing or foreign lease)")
      }
      val stampAtRead = current.map(parseLease(_)._2).getOrElse(0L)
      try {
        val out = fs.create(leasePath, true)
        try out.write(leaseBody(hold.owner, hold.token)) finally out.close()
      } catch { case _: java.io.IOException => () } // transient: next beat
      // r14 ADVICE (b): if the on-disk stamp crossed the stale age while
      // this beat was in flight (a JVM pause between the token read and
      // the overwrite), a breaker may have legally broken the lease and a
      // NEW holder created a fresh one — which our overwrite just
      // clobbered. We cannot prove it didn't happen, so degrade to a LOUD
      // self-eviction: give the slot back and flag, never keep
      // heartbeating over a possibly-displaced legitimate holder.
      if (stampAtRead > 0L &&
          System.currentTimeMillis() - stampAtRead > hold.staleMs) {
        hold.evicted = true
        if (hold.renewal != null) hold.renewal.cancel(false)
        val after =
          try readLeaseRaw(fs, leasePath)
          catch { case _: java.io.IOException => None }
        if (after.exists(raw => parseLease(raw)._3 == hold.token))
          try fs.delete(leasePath, false)
          catch { case _: java.io.IOException => () }
        throw new LeaseHeldException(
          s"writer lease on $root passed the stale age mid-renewal while " +
            s"held by '${hold.owner}' — a breaker may have displaced it; " +
            "self-evicting loudly")
      }
    }
  }

  /** Delete the lease file iff it still carries our token. Returns false
    * when the lease was evicted (missing/foreign token — NEVER deleted:
    * it is another writer's now). A transient read failure retries; a
    * lease STILL unreadable after retries is left in place and reported
    * as not-released (r14 ADVICE: an unreadable file is exactly what a
    * usurper's torn write looks like — deleting it "as ours" would
    * silently evict the usurper and reopen the two-writer window; the
    * root self-heals when the file ages out). A failed delete retries
    * once and then logs — same self-heal, but silence would hide the
    * wedge (r13 ADVICE). */
  private def releaseLease(fs: FileSystem, leasePath: Path,
                           hold: LeaseHold): Boolean = {
    val raw =
      try readLeaseRawRetry(fs, leasePath, attempts = 3)
      catch {
        case e: LeaseHeldException =>
          System.err.println(
            s"[graft] WARN: lease $leasePath unreadable at release " +
              s"(${e.getMessage}); leaving it in place — writers are " +
              "blocked until the stale age passes")
          return false
      }
    raw match {
      case None => false // broken AND re-released: we were evicted
      case Some(bytes)
        if bytes.nonEmpty && parseLease(bytes)._3 != hold.token => false
      case _ =>
        if (!fs.delete(leasePath, false) && fs.exists(leasePath) &&
            !fs.delete(leasePath, false) && fs.exists(leasePath))
          System.err.println(
            s"[graft] WARN: could not delete lease $leasePath on release; " +
              s"writers are blocked until the stale age passes")
        true
    }
  }

  /** [[readLeaseRaw]] with a bounded retry on IOException (100 ms apart);
    * still-unreadable throws [[LeaseHeldException]] — a breaker must
    * REFUSE on a lease it cannot read, never treat it as stale (r13
    * ADVICE: a transient read failure must not evict a live holder). */
  private def readLeaseRawRetry(fs: FileSystem, p: Path,
                                attempts: Int): Option[Array[Byte]] = {
    var left = attempts
    while (true) {
      try return readLeaseRaw(fs, p)
      catch {
        case e: java.io.IOException =>
          left -= 1
          if (left <= 0) throw new LeaseHeldException(
            s"writer lease at $p unreadable after $attempts attempts " +
              s"(${e.getMessage}): refusing to treat it as stale — retry")
          Thread.sleep(100)
      }
    }
    None // unreachable
  }

  /** Create the lease file with overwrite=false; on conflict, break a
    * stale holder (age > `staleMs`) by rename-then-verify and retry the
    * create, else refuse. See the protocol comment above for why the
    * break can never displace a live holder silently. */
  private def acquireLeaseFile(fs: FileSystem, leasePath: Path,
                               root: String, owner: String,
                               staleMs: Long, token: String): Unit = {
    def tryCreate(): Boolean =
      createNoOverwrite(fs, leasePath, leaseBody(owner, token))
    if (tryCreate()) return
    // An EMPTY/unparsable read (stamp 0) is almost always a live holder
    // caught mid-rewrite — the heartbeat's create(overwrite) truncates
    // then writes, a µs-wide window — and only rarely a holder that
    // crashed mid-create. Re-read before treating it as an always-stale
    // candidate: the live holder's bytes land within the retry budget,
    // the crashed holder's garbage persists and proceeds to the
    // rename-verify break.
    var raw = readLeaseRawRetry(fs, leasePath, attempts = 5)
    var rereads = 3
    while (raw.exists(parseLease(_)._2 == 0L) && rereads > 0) {
      Thread.sleep(100)
      raw = readLeaseRawRetry(fs, leasePath, attempts = 5)
      rereads -= 1
    }
    raw match {
      case None =>
        // holder released between our create attempt and the read
        if (!tryCreate()) throw new LeaseHeldException(
          s"writer lease on $root contended at handoff — retry")
      case Some(observed) =>
        val (heldOwner, heldAt, _) = parseLease(observed)
        val age = System.currentTimeMillis() - heldAt
        if (age <= staleMs) throw new LeaseHeldException(
          s"writer lease on $root held by '$heldOwner' (${age}ms old): " +
            "concurrent mutation refused — retry after the current " +
            "append/fold finishes")
        if (!breakStaleLease(fs, leasePath, observed, token))
          throw new LeaseHeldException(
            s"writer lease on $root was re-acquired while breaking a " +
              "stale holder — retry")
        if (!tryCreate()) throw new LeaseHeldException(
          s"writer lease on $root contended while breaking a stale " +
            "holder — retry")
    }
  }

  /** Break a lease whose bytes were observed as `observed` (already past
    * the stale age): rename it to a unique tombstone, verify the
    * displaced bytes ARE the observed stale content, and reclaim the
    * slot. Returns false — with the displaced lease restored — when the
    * rename grabbed a DIFFERENT (fresh) lease recreated between the
    * caller's read and the rename: the exact two-breaker interleaving a
    * blind delete gets wrong (r13 verdict). If the restore itself loses
    * a race (a third writer claimed the empty slot), the displaced
    * holder's next heartbeat flags eviction loudly — degraded to a loud
    * failure, never to two silent writers. Package-visible for the
    * race-interleaving tests. */
  private[graft] def breakStaleLease(fs: FileSystem, leasePath: Path,
                                     observed: Array[Byte],
                                     token: String): Boolean = {
    val tomb = new Path(leasePath.getParent,
      s"${leasePath.getName}.broken.$token")
    val renamed =
      try fs.rename(leasePath, tomb)
      catch { case _: java.io.IOException => false }
    if (!renamed) return true // another breaker won; caller's create decides
    val displaced =
      try readLeaseRaw(fs, tomb)
      catch { case _: java.io.IOException => None }
    if (displaced.exists(java.util.Arrays.equals(_, observed))) {
      fs.delete(tomb, false)
      true
    } else {
      // we displaced a fresh lease (or can't prove otherwise): restore it
      if (!fs.rename(tomb, leasePath)) fs.delete(tomb, false)
      false
    }
  }

  /** Committed version: max N among `base/v=N` children carrying the
    * marker; 0 when none exist (or the base doesn't yet). Non-conforming
    * children (e.g. `v=tmp` left by an external tool) are skipped, never
    * a parse error. */
  def version(versionsBase: String): Int = {
    val (fs, p) = fsFor(versionsBase)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).iterator.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("v=") &&
          fs.exists(new Path(st.getPath, CommitMarker)))
        name.drop(2).toIntOption
      else None
    }.foldLeft(0)(math.max)
  }

  /** Publish version `v`: small payload `files` (name -> bytes) and the
    * optional idempotence tag first, the atomic marker LAST — after every
    * artifact under the version dir is durable, so a visible payload or
    * tag of a committed version is itself committed. `mkdirs` is a no-op
    * when the writer already created the directory (the stats-carrying
    * layouts do; the marker-only layouts don't). */
  def publish(versionsBase: String, v: Int, tag: Option[String],
              files: Seq[(String, Array[Byte])] = Nil): Unit = {
    val (fs, p) = fsFor(versionDir(versionsBase, v))
    fs.mkdirs(p)
    files.foreach { case (name, bytes) =>
      val out = fs.create(new Path(p, name), true)
      try out.write(bytes) finally out.close()
    }
    tag.foreach(t => touch(fs, new Path(p, s"_tag_$t")))
    touch(fs, new Path(p, CommitMarker))
  }

  /** [[publish]] carrying small key=value metadata files (`_meta_<key>`)
    * — write-time facts a reader would otherwise need a data scan to
    * recover (e.g. the tombstone-ledger stamp a repair observed —
    * [[graft.index.IncrementalKnn.repair]]): the read-side fast paths
    * they enable cost FS probes, not Spark jobs. */
  def publishWithMeta(versionsBase: String, v: Int, tag: Option[String],
                      meta: Map[String, String]): Unit =
    publish(versionsBase, v, tag,
      meta.toSeq.map { case (k, value) => s"_meta_$k" -> value.getBytes("UTF-8") })

  /** Metadata value `key` published with version `v`, or None when the
    * version predates the meta protocol (readers fall back to deriving
    * the fact from the data). */
  def versionMeta(versionsBase: String, v: Int, key: String): Option[String] = {
    val (fs, p) = fsFor(versionDir(versionsBase, v))
    val mp = new Path(p, s"_meta_$key")
    if (!fs.exists(mp)) None else Some(new String(readBytes(fs, mp), "UTF-8"))
  }

  /** Whether ANY committed version carries `tag` — the at-least-once
    * writer's replay check (a redelivered micro-batch whose tag is
    * visible anywhere in the committed history is skipped; tags land
    * before the marker, so a visible tag of a committed version is
    * itself committed). */
  def anyCommittedHasTag(versionsBase: String, tag: String): Boolean = {
    val (fs, _) = fsFor(versionsBase)
    (1 to version(versionsBase)).exists(v =>
      fs.exists(new Path(versionDir(versionsBase, v), s"_tag_$tag")))
  }

  // ---- Manifest-addressed segment lists (the tail-fold enabler) ----
  //
  // The positional layout (`seg/0..v-1`, version = segment count) makes
  // every compaction a FULL fold: it must rewrite every byte,
  // including the large old prefix that didn't change — O(corpus) write
  // cost per fold, the classic size-tiered-vs-full-merge gap that
  // dominates write amplification at 100 TB (docs/PLANS.md records the
  // analysis). A MANIFEST breaks position = identity: a committed
  // version can carry an explicit segment list (physical dir +
  // per-segment logical horizon number), so a tail-fold publishes one
  // small folded segment plus one small manifest and the untouched
  // prefix is REFERENCED, not rewritten.
  //
  // Design constraints honored here:
  //  - ONE atomic step per mutation: the manifest payload lives INSIDE
  //    the commit version dir (`commit/v=N/manifest`) and publishes
  //    under the same single `_COMMITTED` marker as the version's
  //    idempotence tag — no second marker, no torn append-vs-manifest
  //    state, `version()` semantics unchanged.
  //  - logical numbers are not positions; they only feed the horizon
  //    algebra of folds (no ledger rewrite on a fold, a ledger REBASE on
  //    a full one), which [[SegmentedRoot]] owns.
  //
  // A root without a committed manifest reads positionally, exactly as
  // before — manifests appear at the first tail-fold, so existing roots
  // and write paths are untouched until they opt in.

  /** One manifest segment entry: `dir` is root-relative, `logicalSeg`
    * is the row horizon tag ([[graft.index.IncrementalIvf]] reads tag
    * rows `__seg = logicalSeg`). */
  final case class ManifestEntry(dir: String, logicalSeg: Long)

  /** A committed segment list. `nextLogical` numbers the next append
    * (and is the horizon a delete committed NOW uses — strictly above
    * every live row's tag); `nextPhysical` names the next physical dir
    * (never reused, so folded-away dirs can be swept without racing a
    * retry); `tombRebase` is the tombstone-ledger version whose entries
    * are fully baked into the current segments (readers skip them);
    * `repairRebase` is its repair-ledger twin (graph family only — a
    * reclaiming fold bakes the covered refills into the folded edges, so
    * readers MUST skip absorbed repair segments: their stale rows were
    * suppressed by exactly the tombstone entries the fold rebased away,
    * and merging them back would silently resurrect pre-upsert scores). */
  final case class Manifest(entries: Seq[ManifestEntry], nextLogical: Long,
                            nextPhysical: Int, tombRebase: Int,
                            repairRebase: Int = 0)

  private def manifestPath(versionsBase: String, v: Int): Path =
    new Path(versionDir(versionsBase, v), "manifest")

  /** Serialize `m` as the version payload — fixed line format, no JSON
    * dependency; dirs must not contain tabs or newlines (they are
    * writer-chosen `seg/<n>` names). */
  private def renderManifest(m: Manifest): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("nextLogical=").append(m.nextLogical).append('\n')
    sb.append("nextPhysical=").append(m.nextPhysical).append('\n')
    sb.append("tombRebase=").append(m.tombRebase).append('\n')
    sb.append("repairRebase=").append(m.repairRebase).append('\n')
    m.entries.foreach { e =>
      sb.append("entry=").append(e.dir).append('\t')
        .append(e.logicalSeg).append('\n')
    }
    sb.toString.getBytes("UTF-8")
  }

  private def parseManifest(bytes: Array[Byte]): Manifest = {
    val lines = new String(bytes, "UTF-8").split('\n').filter(_.nonEmpty)
    def field(k: String): String = lines
      .collectFirst { case l if l.startsWith(s"$k=") => l.drop(k.length + 1) }
      .getOrElse(sys.error(s"manifest missing field $k"))
    val entries = lines.toSeq.filter(_.startsWith("entry=")).map { l =>
      val parts = l.drop("entry=".length).split('\t')
      require(parts.length == 2, s"malformed manifest entry: $l")
      ManifestEntry(parts(0), parts(1).toLong)
    }
    // repairRebase absent in pre-reclaim manifests: default 0 (no
    // repair segment absorbed) — forward-compatible parse
    val repairRebase = lines
      .collectFirst { case l if l.startsWith("repairRebase=") =>
        l.drop("repairRebase=".length).toInt }
      .getOrElse(0)
    Manifest(entries, field("nextLogical").toLong,
      field("nextPhysical").toInt, field("tombRebase").toInt, repairRebase)
  }

  /** Publish version `v` CARRYING a manifest: payload + optional tag
    * first, the atomic marker last — one visible step for the segment
    * list change and the version bump together. */
  def publishManifest(versionsBase: String, v: Int, tag: Option[String],
                      manifest: Manifest): Unit =
    publish(versionsBase, v, tag, Seq("manifest" -> renderManifest(manifest)))

  /** The manifest committed at version `v` of `versionsBase`, or None
    * when that version carries no payload (positional root, or a version
    * published before the first fold). */
  def manifestAt(versionsBase: String, v: Int): Option[Manifest] = {
    if (v <= 0) return None
    val (fs, _) = fsFor(versionsBase)
    val mp = manifestPath(versionsBase, v)
    if (!fs.exists(mp)) None else Some(parseManifest(readBytes(fs, mp)))
  }

  /** The CURRENT committed manifest of `versionsBase` (at
    * `version(versionsBase)`), or None for positional roots. */
  def currentManifest(versionsBase: String): Option[Manifest] =
    manifestAt(versionsBase, version(versionsBase))

  /** Total bytes under `path` (0 when absent) — the segment-size input
    * to [[tieredFoldStart]]. One recursive listing, metadata-only. */
  def treeBytes(path: String): Long = {
    val (fs, p) = fsFor(path)
    if (!fs.exists(p)) 0L else filesUnder(fs, p).map(_.getLen).sum
  }

  /** SIZE-TIERED fold-start selection — which suffix of the segment
    * list a triggered tail-fold should fold, as a pure function of
    * segment sizes (unit-testable; the families feed it [[treeBytes]]
    * per entry).
    *
    * Why not always fold everything past `keep`: that policy re-absorbs
    * the accumulated tail on EVERY trigger, so per-trigger write cost
    * grows with total bytes appended since the base — the naive-LSM
    * trap. The tiered policy folds the longest TRAILING RUN of
    * similar-size segments (max/min ≤ `ratio` within the run): fresh
    * same-size batches fold together cheaply, their folds later fold
    * with each other once sizes are comparable, and a dominant older
    * segment is left alone until the tail grows into its size class —
    * the classic logarithmic merge ladder (amortized O(log N) rewrites
    * per byte) with at most ~log_ratio(N) live tiers.
    *
    * The fan-in HARD BOUND still wins: if folding only the similar-size
    * run would leave more than `maxSegments` live segments, the fold
    * extends deeper regardless of ratio (correctness and read fan-in
    * beat amortization). Operators choosing a tight `maxSegments`
    * should know the trade: the ladder needs ≈ one slot per size tier,
    * so `maxSegments` below log_ratio(corpus/batch) degrades toward
    * the fold-everything cost for the mid tiers.
    *
    * Returns the fold-start index `m` (fold entries `m..last`); always
    * ≥ `keep`, and ≤ `size - 2` so a triggered fold merges at least two
    * segments (folding one segment changes nothing). */
  def tieredFoldStart(sizes: Seq[Long], keep: Int, maxSegments: Int,
                      ratio: Long = 4): Int = {
    require(sizes.size >= 2, s"nothing to fold: ${sizes.size} segments")
    var m = sizes.length - 1
    var mn = math.max(sizes(m), 1L)
    var mx = math.max(sizes(m), 1L)
    def similar(s0: Long): Boolean = {
      val s = math.max(s0, 1L)
      math.max(mx, s) <= ratio * math.min(mn, s)
    }
    while (m > keep && similar(sizes(m - 1))) {
      m -= 1
      mn = math.min(mn, math.max(sizes(m), 1L))
      mx = math.max(mx, math.max(sizes(m), 1L))
    }
    // fold at least two segments, and enough to satisfy the fan-in cap
    m = math.min(m, sizes.length - 2)
    while (m > keep && m + 1 > maxSegments) m -= 1
    math.max(m, keep)
  }

  /** Runtime guard for the fold ladder's fan-in trade ([[tieredFoldStart]]
    * scaladoc): the tiered policy needs roughly ONE fan-in slot per size
    * tier, so a `maxSegments` below the observed tier count forces the
    * hard bound past similar-size runs and mid-tier folds degrade toward
    * the fold-everything cost. Returns the warning an operator should
    * see (None = the ladder fits). Tier count is the log_ratio span of
    * the observed sizes — the number of distinct size classes the ladder
    * can hold at once. */
  def ladderCheck(sizes: Seq[Long], maxSegments: Int,
                  ratio: Long = 4): Option[String] = {
    val nz = sizes.map(math.max(_, 1L))
    if (nz.isEmpty) None
    else {
      val tiers = (math.log(nz.max.toDouble / nz.min.toDouble) /
        math.log(ratio.toDouble)).toInt + 1
      if (maxSegments < tiers) Some(
        s"maxSegments=$maxSegments is below the observed size-tier " +
          s"count $tiers (size ratio ${nz.max}/${nz.min}, ladder ratio " +
          s"$ratio): mid-tier folds degrade toward fold-everything " +
          "write cost — raise maxSegments to ~one slot per tier")
      else None
    }
  }

  /** Child directory names of `path` (empty when absent) — the GC
    * sweep's view of a root's physical segment pool. */
  def listChildDirs(path: String): Seq[String] = {
    val (fs, p) = fsFor(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator.filter(_.isDirectory)
      .map(_.getPath.getName).toSeq
  }

  /** Recursive delete of a marker-less data directory (a folded-away or
    * orphaned physical segment — protocol state lives under the commit
    * ledger, never inside these, so no marker-first discipline applies).
    * Idempotent. */
  def deleteTree(path: String): Boolean = {
    val (fs, p) = fsFor(path)
    fs.exists(p) && fs.delete(p, true)
  }

  // ---- Tombstone ledger (shared mark-and-filter delete protocol) ----
  //
  // One versioned ledger per index root (`<root>/tombs`): each delete
  // commits a distinct-id parquet segment under `seg/<v>` and publishes
  // `commit/v=<v+1>` with the standard marker protocol (ids first, marker
  // last — a crashed delete is invisible). Readers union all committed
  // segments; an absent ledger costs one existence probe and leaves the
  // read plan untouched. Deletion semantics per family are documented at
  // the call sites (Lucene/Qdrant mark-and-filter: excluded from reads
  // immediately, physically reclaimed at the next full fold, which
  // rebases the ledger past the kills it absorbed).

  private def tombSegDir(base: String, v: Int) = s"$base/seg/$v"
  private def tombCommitBase(base: String) = s"$base/commit"

  /** Commit `ids` (single long id column) as a tombstone segment under
    * ledger `base`. Idempotent via `tag` (at-least-once deleters replay
    * safely — a tag visible on any committed ledger version is skipped).
    * Rows carry `before_seg` — the index-segment horizon the tombstone
    * applies to: rows of segments `< before_seg` are dead, later
    * segments (a re-insert of the SAME id) serve normally. A plain
    * delete uses Long.MaxValue (all versions dead); an UPSERT passes the
    * index version at write time, which is what makes same-id point
    * updates possible ([[graft.index.IncrementalKnn.upsert]]). */
  def tombWrite(ids: org.apache.spark.sql.DataFrame, idCol: String,
                base: String, tag: Option[String],
                beforeSeg: Long = Long.MaxValue): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val cb = tombCommitBase(base)
    if (tag.exists(anyCommittedHasTag(cb, _))) return
    val tv = version(cb)
    ids.select(col(idCol).cast("long").as(idCol)).distinct()
      .withColumn("before_seg", lit(beforeSeg))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(tombSegDir(base, tv))
    publish(cb, tv + 1, tag)
  }

  /** Committed version of the tombstone LEDGER at `base` (0 = no
    * tombstones). This is the coverage clock repair-style maintenance
    * tracks against: index-segment versions do NOT advance on deletes or
    * upserts, so "which deletes has this repair observed" can only be
    * stated in ledger versions ([[graft.index.IncrementalKnn.repair]]
    * stamps each repair segment with this number). */
  def tombVersion(base: String): Int = version(tombCommitBase(base))

  /** All committed tombstones under ledger `base`, one row per ledger
    * segment entry, WITHOUT the per-id max-horizon fold of [[tombIds]]:
    * (id, before_seg, tomb_v), where `tomb_v` is the committed ledger
    * version that introduced the row (segment index + 1). Callers that
    * need to know WHICH delete killed a row — e.g. repair-coverage
    * checks comparing a killing tombstone's ledger version against a
    * repair's observed-ledger stamp — read this form; plain kill filters
    * keep the folded [[tombIds]]. */
  def tombIdsVersioned(spark: SparkSession, base: String,
                       fromVersion: Int = 0): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    val tv = version(tombCommitBase(base))
    if (tv <= fromVersion) None
    else Some((fromVersion until tv).map { k =>
      val raw = spark.read.parquet(tombSegDir(base, k))
      (if (raw.columns.contains("before_seg")) raw
       else raw.withColumn("before_seg", lit(Long.MaxValue)))
        .withColumn("tomb_v", lit((k + 1).toLong))
    }.reduce(_ unionByName _))
  }

  /** All committed tombstones under ledger `base` as (id, before_seg) —
    * per id the MAX horizon wins (a later full delete supersedes an
    * upsert's bounded one) — or None when the ledger is empty: callers
    * skip the anti-join entirely then, keeping tombstone-free plans
    * exactly as they were. Ledgers written before the horizon column
    * existed read as full deletes. `fromVersion` skips ledger segments
    * at or below a manifest's `tombRebase` (their kills are physically
    * baked into a full fold — see the manifest section above). */
  def tombIds(spark: SparkSession, base: String,
              fromVersion: Int = 0): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, max}
    tombIdsVersioned(spark, base, fromVersion).map { t =>
      t.groupBy(col(t.columns.head))
        .agg(max(col("before_seg")).as("before_seg"))
    }
  }

  /** Crash-consistent SNAPSHOT of an index root (backup/restore — the
    * operational surface Qdrant serves as collection snapshots; at
    * 100 TB a snapshot is a listing + a distributable copy job).
    *
    * The snapshot HOLDS THE ROOT'S WRITER LEASE for its duration
    * ([[withWriterLease]]) — quiescing mutations is part of the contract
    * for MANIFEST roots: a tail-fold deletes physical segment dirs
    * INSIDE the live root (a fold mid-copy could delete listed files, or
    * worse, commit a marker for a version whose data the walk already
    * passed), and even a plain append can tear against the recursive
    * walk (the walk may pass `seg/` before the append writes and reach
    * `commit/` after its marker lands — a committed version with missing
    * data in the copy). Pre-manifest roots were append-only within a
    * root and mostly safe by marker ordering; manifest roots are not,
    * so the lease replaces that luck with a checked quiesce. Mutations
    * attempted during a snapshot refuse loudly and retry after it; at
    * 100 TB, snapshot a non-serving replica or schedule with ingest.
    * Transient [[LeaseFile]]s are never copied.
    *
    * One recursive listing of `src` fixes the snapshot's view; then the
    * files copy in FOUR strictly-ordered passes — data, tombstone/repair
    * ledger `_COMMITTED` markers, segment-ledger `_COMMITTED` markers
    * (each ledger's markers version-DESCENDING, see [[orderForCopy]]),
    * and the catalog `_GRAFT_INDEX_READY` marker dead last — the writer
    * protocol re-applied to the copy, giving these guarantees with zero
    * coordination:
    *
    *   - a crash mid-snapshot leaves a copy whose highest versions have
    *     data but no marker: readers resolve version 0 (loudly refused)
    *     or — because each ledger's markers copy version-DESCENDING —
    *     the TRUE list-time current version, whose data (and manifest,
    *     with every dir it references) all arrived in the completed
    *     data pass. A torn copy can never resolve to an OLD committed
    *     version whose manifest references dirs a later fold swept
    *     from the source — the dangling-manifest tear an ascending (or
    *     arbitrary) marker order would allow;
    *   - a crash DURING the marker pass can only leave the copy with
    *     MORE tombstone/repair ledger committed than segment ledger
    *     committed, never less (ledger markers land before segment
    *     markers): over-applied kill filters hide rows conservatively;
    *     the reverse tear — committed segments whose deletes vanished —
    *     would silently RESURRECT deleted rows, and is impossible by
    *     this ordering;
    *   - the catalog `_GRAFT_INDEX_READY` marker (when the source tree
    *     carries one) copies strictly AFTER every `_COMMITTED` marker,
    *     so a torn restore can never present a ready-but-incomplete tree
    *     to [[graft.index.IndexCatalog.ensure]]/[[graft.index.IndexCatalog.adopt]]
    *     — the ready marker's presence in a snapshot copy certifies the
    *     whole marker set beneath it arrived;
    *   - concurrent writers cannot exist: the held lease refuses them
    *     for the snapshot's duration, so the listing is stable — no
    *     append can tear against the walk and no fold can delete a
    *     listed file mid-copy.
    *
    * Uncommitted source orphans copy as uncommitted orphans (their
    * markers don't exist to copy) — the snapshot never "launders" a
    * torn write into a committed one. RESTORE is the same call with the
    * arguments flipped: roots are path-addressed, so a restored tree IS
    * a serving root (the spec pins snapshot ≡ source reads, and
    * isolation from post-snapshot mutations of the source). Empty
    * directories carry no state in this layout (all protocol state is
    * files), so they are not reproduced. */
  def snapshot(src: String, dest: String): Unit = {
    val (fs, sp0) = fsFor(src)
    require(fs.exists(sp0), s"snapshot source $src does not exist")
    val sp = fs.makeQualified(sp0)
    val (dfs, dp) = fsFor(dest)
    require(!dfs.exists(dp) || dfs.listStatus(dp).isEmpty,
      s"snapshot destination $dest exists and is not empty")
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    withWriterLease(src, "snapshot") { // quiesce folds/appends (see doc)
      val prefix = sp.toString + "/"
      val files = filesUnder(fs, sp).map(_.getPath)
      def copy(p: Path): Unit = {
        val rel = p.toString.stripPrefix(prefix)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, p, dfs, new Path(dest, rel), false, conf)
      }
      orderForCopy(files).foreach(copy)
    }
  }

  /** The crash-safety ordering of [[snapshot]]'s copy, as a pure plan
    * (unit-testable without fault injection): data files, then
    * tombstone/repair ledger `_COMMITTED` markers, then segment-ledger
    * `_COMMITTED` markers, then any `_GRAFT_INDEX_READY` marker dead
    * last. Cross-ledger marker order: tombstone + repair ledgers commit
    * in the copy BEFORE the segment ledger (see [[snapshot]]'s contract
    * — a marker-pass tear must over-delete, never resurrect).
    *
    * Within each commit base, markers copy version-DESCENDING: a crash
    * mid-marker-pass then leaves the base resolving either to its TRUE
    * list-time current version (the first marker copied — data pass
    * complete, so every file and manifest-referenced dir that version
    * needs is present) or to version 0 (refused loudly) — never to an
    * OLD version whose manifest may reference dirs a fold already swept
    * from the source. `version()` takes max(marked), so the missing
    * lower markers are immaterial.
    *
    * Transient [[LeaseFile]]s (the snapshot's own quiesce lease
    * included) are dropped from the plan — a copied lease would block
    * the restored root's writers for a full stale-age for no reason. */
  private[graft] def orderForCopy(files: Seq[Path]): Seq[Path] = {
    val (ready, rest0) = files.partition(_.getName == ReadyMarker)
    // startsWith: also drops `_WRITER_LEASE.broken.<token>` tombstones a
    // crashed breaker may have left mid-break (r14 rename-verify break)
    val rest = rest0.filterNot(_.getName.startsWith(LeaseFile))
    val (markers, data) = rest.partition(_.getName == CommitMarker)
    val (ledgerMarkers, segMarkers) = markers.partition { p =>
      val s = p.toString
      s.contains("/tombs/") || s.contains("/repairs/")
    }
    def descending(ms: Seq[Path]): Seq[Path] = ms.sortBy { p =>
      val vd = p.getParent // the v=N version dir
      val base = Option(vd).flatMap(d => Option(d.getParent))
        .map(_.toString).getOrElse("")
      val v = Option(vd).map(_.getName.stripPrefix("v="))
        .flatMap(_.toIntOption).getOrElse(0)
      (base, -v)
    }
    data ++ descending(ledgerMarkers) ++ descending(segMarkers) ++ ready
  }

  /** Verify `dest` carries every protocol marker the `src` tree carries
    * (same relative paths) — the cheap completeness certificate a
    * restore takes BEFORE adopting the copy into serving: data files
    * copy before markers, so marker-set equality implies every file a
    * committed version references arrived. Returns the missing relative
    * paths (empty = mirror complete). Cost: two recursive listings —
    * metadata-only at any corpus size. */
  def missingMarkers(src: String, dest: String): Seq[String] = {
    def markerSet(root: String): Set[String] = {
      val (fs, p0) = fsFor(root)
      if (!fs.exists(p0)) return Set.empty
      val p = fs.makeQualified(p0)
      filesUnder(fs, p).map(_.getPath)
        .filter(f => f.getName == CommitMarker || f.getName == ReadyMarker)
        .map(_.toString.stripPrefix(p.toString + "/")).toSet
    }
    (markerSet(src) -- markerSet(dest)).toSeq.sorted
  }

  /** Referential completeness certificate for MANIFEST roots — the
    * second restore-time check next to [[missingMarkers]]: for every
    * commit base under `root`, parse the CURRENT committed manifest (if
    * any) and return the entries whose physical segment directory is
    * absent. Structurally unreachable for copies made by [[snapshot]]
    * (lease-quiesced listing + descending marker order), so a non-empty
    * result means external tampering or a copy made by some other tool
    * — refuse before adopting. Entry paths resolve against the base's
    * parent (the index root): `seg/<n>`-style entries directly, bare
    * physical numbers via the graph family's `assign/` kind (its five
    * artifact kinds share the number and are swept together). Cost: one
    * recursive listing + one existence probe per live segment. */
  def danglingManifestRefs(root: String): Seq[String] = {
    val (fs, p0) = fsFor(root)
    if (!fs.exists(p0)) return Seq.empty
    // a manifest payload lives at <base>/v=N/manifest
    val bases = filesUnder(fs, fs.makeQualified(p0)).map(_.getPath)
      .filter(f => f.getName == "manifest" && f.getParent != null &&
        f.getParent.getName.startsWith("v=") && f.getParent.getParent != null)
      .map(_.getParent.getParent).distinct
    bases.flatMap { base =>
      val baseStr = base.toString
      currentManifest(baseStr).toSeq.flatMap { m =>
        val idxRoot = base.getParent.toString
        m.entries.filter { e =>
          val dir =
            if (e.dir.contains("/")) s"$idxRoot/${e.dir}"
            else s"$idxRoot/assign/${e.dir}"
          !fs.exists(new Path(dir))
        }.map(e => s"$baseStr -> ${e.dir}")
      }
    }.sorted
  }
}
