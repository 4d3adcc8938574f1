package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Catalog of derived on-disk index artifacts — the build/query split.
  *
  * The reference builds its payload keyword indexes and vector index at
  * indexing time (`/root/reference/scripts/indexing.py:326-340,383-443`)
  * and every query hits the prebuilt structures; queries never pay an
  * index build. This catalog gives the Spark engine the same contract:
  * `ensure` builds a derived parquet layout at most once (per JVM, and
  * across JVMs via a commit marker) and returns its path; query operators
  * read the prebuilt layout and get parquet pushdown/bloom pruning against
  * it.
  *
  * At cluster scale the root would be a warehouse path (S3/HDFS) and the
  * build a scheduled job; the query-side code is identical.
  */
object IndexCatalog {

  /** Root for derived artifacts. Kept under the build's target/ dir by
    * default so it never pollutes source trees; override with
    * GRAFT_INDEX_DIR for a shared warehouse location. */
  def root: String = sys.env.getOrElse(
    "GRAFT_INDEX_DIR",
    Paths.get(sys.props("user.dir"), "target", "graft_index").toString)

  private val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // Per-artifact-path build locks (r14 ADVICE: the object monitor made
  // one slow/foreign build block EVERY ensure in the JVM — any artifact,
  // any dataset — for the full poll horizon; builds of distinct
  // artifacts are independent and must not serialize). Entries are tiny
  // and bounded by the number of distinct artifacts ever ensured.
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stable short key for a data directory (avoids path-separator issues
    * and keeps one index tree per distinct input dataset). */
  private def dirKey(dataDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dataDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  def path(dataDir: String, name: String): String =
    Paths.get(root, dirKey(dataDir), name).toString

  /** Ensure index `name` for `dataDir` exists, building it at most once.
    * The marker file commits the build atomically-enough for the
    * immutable-input model: a crashed partial build leaves no marker and
    * is rebuilt (parquet Overwrite makes the rebuild idempotent).
    *
    * Cross-PROCESS cold starts hold the tree's writer lease for the
    * build (r13 verdict: the marker protocol made a concurrent duplicate
    * build benign-but-wasted; the lease makes the single-builder
    * contract CHECKED like the incremental roots'). A process refused by
    * a live builder's lease waits for that builder's marker instead of
    * duplicating the work; a builder that DIES mid-build (its lease file
    * vanishes on release/eviction, or ages out and is broken) is
    * detected by the poll — the waiter re-attempts the lease and builds
    * itself instead of sleeping to the deadline (r14 ADVICE: the old
    * poll burned the full horizon on a crashed foreign builder where the
    * pre-lease marker protocol rebuilt immediately). Only a holder that
    * stays live past the poll horizon without publishing rethrows. */
  def ensure(spark: SparkSession, dataDir: String, name: String)
            (build: String => Unit): String = {
    val p = path(dataDir, name)
    if (!built.contains(p))
      buildLocks.computeIfAbsent(p, _ => new Object).synchronized {
        if (!built.contains(p)) {
          val marker = Paths.get(p, "_GRAFT_INDEX_READY")
          val lease = Paths.get(p, SegmentStore.LeaseFile)
          val deadline = System.currentTimeMillis() + 10L * 60 * 1000
          var done = Files.exists(marker)
          while (!done) {
            try {
              SegmentStore.withWriterLease(p, s"index-build:$name") {
                if (!Files.exists(marker)) { // lease winner may have finished
                  build(p)
                  Files.createDirectories(marker.getParent)
                  Files.write(marker, Array.emptyByteArray)
                }
              }
              done = true
            } catch {
              case e: SegmentStore.LeaseHeldException =>
                // another process is mid-build: wait for its marker — or
                // for its lease to vanish without one (builder died or
                // failed), which sends us back around to build it
                // ourselves
                var poll = true
                while (poll) {
                  if (System.currentTimeMillis() > deadline) throw e
                  else if (Files.exists(marker)) { poll = false; done = true }
                  else if (!Files.exists(lease)) { Thread.sleep(50); poll = false }
                  else Thread.sleep(200)
                }
            }
          }
          built.add(p)
        }
      }
    p
  }

  /** Register an artifact tree placed at `path(dataDir, name)` by an
    * EXTERNAL copy (a snapshot restore) as built: the restored tree
    * carries its own `_GRAFT_INDEX_READY` marker (snapshots copy it), so
    * adoption is just the memo add after validating the marker — a
    * restore of a tree with no marker is a torn copy and is refused.
    * Callers must [[invalidate]] first (clears memo, caches, and the
    * previous tree), then copy, then adopt. */
  def adopt(dataDir: String, name: String): String = {
    val p = path(dataDir, name)
    require(Files.exists(Paths.get(p, "_GRAFT_INDEX_READY")),
      s"cannot adopt $p: no _GRAFT_INDEX_READY marker (torn restore?)")
    built.add(p)
    p
  }

  /** Drop the memo (tests that rewrite a fixture dir in place). Also
    * clears driver-side caches derived from this index (the TF-IDF idf
    * table, the memoized parquet schemas of its files) — a rebuilt index
    * must never be queried with stale cached corpus statistics or read
    * with its old column set. */
  def invalidate(dataDir: String, name: String): Unit = {
    val p = Paths.get(path(dataDir, name))
    built.remove(p.toString)
    TfIdfIndex.invalidateIdfCacheUnder(p.toString)
    graft.tables.ServedParquet.invalidateUnder(p.toString)
    // RAM-resident serving frames derived from this artifact must not
    // outlive the rebuild (their clock is a constant for build-once
    // artifacts — invalidation IS their only staleness signal)
    graft.search.ServingCache.clear()
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }
}
