package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.index.{IncrementalBm25, IncrementalIvf, IncrementalKnn, SegmentStore, SegmentedRoot}

/** Structured Streaming operators (reference §2.10: the delta-import dir
  * N2 and checkpointed progress N4, made real streams).
  *
  * The reference polls an import directory and upserts per-doc
  * (`document_service.py:477-526`); here that's the Structured Streaming
  * file source + `foreachBatch` merge — checkpointing (N4's pickle file)
  * is native. Watermarked windowed aggregation and stateful
  * sessionization cover what a production event pipeline needs at scale:
  * state lives partitioned by key in the state store, not on the driver.
  */
object DeltaStream {

  /** Retry horizon for [[withLeaseRetry]]: how long one trigger defers
    * to a concurrent lease holder before failing the streaming query.
    * Sized for a real snapshot quiesce (which walks and copies the whole
    * root under the lease — tens of seconds at the design point, not the
    * ~5 s the r14 fixed budget covered); operators whose snapshots run
    * longer raise it via `-Dgraft.lease.retry.max.wait.ms=...` on the
    * ingest process. */
  private[graft] def leaseRetryMaxWaitMs: Long =
    sys.props.get("graft.lease.retry.max.wait.ms")
      .flatMap(_.toLongOption).getOrElse(60L * 1000)

  /** Run one micro-batch index-maintenance `body`, retrying while a
    * concurrent lease holder — an admin snapshot quiescing the live root
    * ([[graft.index.SegmentStore.snapshot]]), or an operator fold route —
    * refuses the mutation with [[graft.index.SegmentStore
    * .LeaseHeldException]]. Without the retry, one admin call taken
    * during live CDC ingest FAILS the whole streaming query (r13
    * ADVICE); with it, the trigger defers until the quiesce ends.
    * Backoff is exponential (250 ms doubling to a 5 s cap) up to
    * [[leaseRetryMaxWaitMs]] total (r14 ADVICE: the fixed ~5 s budget
    * only covered toy snapshots). The whole body re-runs on each
    * attempt, which is safe by construction: every mutation inside the
    * maintenance loops is idempotence-tagged, so halves that committed
    * before the refusal replay as no-ops. Exhausted retries rethrow —
    * the batch's checkpoint offset is then uncommitted and a restart
    * replays it exactly-once; schedule copies that outlast the retry
    * budget off-peak. */
  private def withLeaseRetry[T](body: => T): T = {
    val deadline = System.currentTimeMillis() + leaseRetryMaxWaitMs
    var backoffMs = 250L
    while (true) {
      try return body
      catch {
        case e: graft.index.SegmentStore.LeaseHeldException =>
          val sleep =
            math.min(backoffMs, deadline - System.currentTimeMillis())
          if (sleep <= 0) throw e
          Thread.sleep(sleep)
          backoffMs = math.min(backoffMs * 2, 5000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Start a checkpointed stream over `rows` that hands every
    * micro-batch (and its id) to `f` — the sink shape of every
    * `foreachBatch` operator here. */
  private def onEachBatch(rows: DataFrame, checkpoint: String)
                         (f: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(f)
      .outputMode(OutputMode.Update())
      .start()

  /** N2: stream new JSON files from a delta directory; each micro-batch is
    * handed to `merge` (e.g. Lifecycle.deltaDetect + parquet upsert). */
  def deltaImport(spark: SparkSession, deltaDir: String, checkpoint: String,
                  schema: org.apache.spark.sql.types.StructType)
                 (merge: (DataFrame, Long) => Unit): StreamingQuery =
    onEachBatch(spark.readStream
      .schema(schema)
      .option("multiLine", "true")
      .json(deltaDir), checkpoint)(merge)

  /** Watermarked tumbling-window counts over an event stream:
    * (window, event_type) → n, sum_value. Late data beyond the watermark
    * is dropped; state is bounded. */
  def windowedEventCounts(events: DataFrame, watermark: String,
                          windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup: drop documents whose normalized dedup key
    * (sorted distinct token set — the batch twin is `Dedup.exactGroups`)
    * was already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keeps one state row per key and
    * EXPIRES it past the watermark, so state is bounded by the horizon's
    * key cardinality — the only formulation that survives an unbounded
    * stream (plain `dropDuplicates` state grows forever). */
  def streamingDedup(docs: DataFrame, textCol: String, tsCol: String,
                     watermark: String): DataFrame =
    docs
      .withColumn("dedup_key", array_join(array_sort(array_distinct(
        graft.functions.TextOps.tokens(col(textCol)))), " "))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("dedup_key")
      .drop("dedup_key")

  /** Streaming corpus curation: score every micro-batch of documents
    * against a FROZEN, batch-trained unigram LM (`CorpusStats
    * .unigramLogProbs` — train once on the reference corpus, persist,
    * reload) and hand the per-doc keep/drop verdicts to `sink`. The LM
    * join is stream-static and broadcast, the repetition/quality metrics
    * are micro-batch-local aggregations — exactly the batch
    * `curationVerdictWithLm`, so streamed verdicts are bit-identical to
    * what a batch re-run over the same documents would produce.
    * Micro-batch docs whose tokens are all outside the trained
    * vocabulary score no surprisal and are dropped by the LM join —
    * retrain or widen the LM if the stream drifts. */
  def curationIngest(docs: DataFrame, lp: DataFrame, checkpoint: String)
                    (sink: (DataFrame, Long) => Unit): StreamingQuery =
    onEachBatch(docs, checkpoint) { (batch: DataFrame, batchId: Long) =>
      sink(graft.functions.CorpusStats.curationVerdictWithLm(batch, lp),
        batchId)
    }

  /** Streaming NEAR-dup gate at ingest: every micro-batch is MinHash-
    * banded (`Dedup.minhashBands` — same signatures as the batch d3
    * path) and checked against a persisted band store; a doc is dropped
    * when any of its band keys is already present (an LSH candidate =
    * near-dup suspect; the ingest gate errs toward dropping, like a
    * bloom gate — run the batch confirm join offline if precision
    * matters). Within a batch the same rule applies against smaller doc
    * ids: collision losers drop in ONE pass (a loser's own bands don't
    * suppress later docs until it wins elsewhere — the standard greedy
    * LSH-dedup approximation; deterministic on ids, not arrival order).
    * Survivors append their band rows to the store, so the gate's state
    * grows with the KEPT corpus only and is shared, restartable parquet
    * — not per-executor memory. At scale, partition the store by
    * `band_id` and z-order/sort by `band` so the per-batch semi-join
    * prunes to the probed row groups.
    *
    * `sink` receives the surviving raw doc rows per batch. */
  def lshDedupIngest(docs: DataFrame, bandStore: String, checkpoint: String,
                     n: Int = 3)
                    (sink: (DataFrame, Long) => Unit): StreamingQuery =
    onEachBatch(docs, checkpoint) { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val fresh = graft.dedup.Dedup.minhashBands(batch, "doc_id", "text", n)
        .localCheckpoint() // three consumers below; bands are tiny (4/doc)
      val stored =
        try spark.read.parquet(bandStore).select(col("band_id"), col("band"))
        catch { case _: org.apache.spark.sql.AnalysisException =>
          spark.emptyDataFrame.select(lit(0).as("band_id"), lit("").as("band"))
            .limit(0) }
      val hitStore = fresh.join(stored, Seq("band_id", "band"), "left_semi")
        .select(col("doc_id"))
      // intra-batch: a band's keeper is its min doc_id (partial-agg min,
      // skew-immune); every other doc holding that band drops.
      val intraLosers = fresh
        .join(fresh.groupBy(col("band_id"), col("band"))
            .agg(min(col("doc_id")).as("keeper")),
          Seq("band_id", "band"))
        .where(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"))
      val dropIds = hitStore.union(intraLosers).distinct()
      val survivors = batch.join(dropIds, Seq("doc_id"), "left_anti")
      // One file per micro-batch append (band rows are 4/doc — tiny):
      // a steady stream would otherwise shed shuffle-partition-many
      // small files per trigger and the store's read side would choke
      // on file count long before data size. Periodic `Store.compact`
      // on the band store is the long-run answer; coalesce keeps the
      // interval between compactions long.
      fresh.join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .coalesce(1)
        .write.mode("append").parquet(bandStore)
      sink(survivors, batchId)
    }

  /** Streaming CDC ingest: a continuous I/U/D changelog folded into a
    * parquet snapshot per micro-batch via
    * [[graft.ingest.Lifecycle.applyChangelog]] — the streaming half of
    * i15. Within a batch the highest `seqCol` wins; across batches the
    * later batch rewrites the snapshot, so the end state equals one batch
    * apply of the whole log as long as `seqCol` is monotone over the
    * stream (true of any real changelog: log offset, LSN).
    *
    * The next snapshot publishes via [[graft.ingest.Store.replaceSnapshot]]
    * (write beside, rename-swap): the write streams from a scan of the
    * CURRENT snapshot — untouched until the swap — and a crash at any
    * point leaves a state the next batch's read recovers, instead of the
    * unrecoverable window `mode(overwrite)`-in-place has (base deleted,
    * new write incomplete, checkpoint replay only re-applies the current
    * micro-batch). On a real cluster the sink would be a MERGE-capable
    * table format; the fold itself is format-agnostic.
    */
  def cdcIngest(changes: DataFrame, basePath: String, checkpoint: String,
                idCol: String, seqCol: String, opCol: String): StreamingQuery =
    onEachBatch(changes, checkpoint) { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val payloadCols = batch.columns.filterNot(c => c == seqCol || c == opCol)
      val base = graft.ingest.Store.readSnapshot(spark, basePath)
        .getOrElse(batch.select(payloadCols.map(col): _*).limit(0))
      graft.ingest.Store.replaceSnapshot(
        graft.ingest.Lifecycle.applyChangelog(base, batch, idCol, seqCol, opCol),
        basePath)
    }

  /** Collapse a CDC micro-batch to the NET operation per key — the
    * in-batch ordering contract (r10 ADVICE): the ingest loops apply ops
    * grouped D→U→I, so without collapsing, an insert followed by a
    * delete of the same key IN ONE TRIGGER would resurrect the row (the
    * delete's horizon predates the re-insert's segment) and two updates
    * of one key would both append. With `seqCol` (the changelog's own
    * order — log offset, LSN; any real changelog carries one), the
    * highest-seq op per key wins, and a surviving `I` whose key had
    * earlier in-batch ops is promoted to `U` (the key may pre-exist —
    * e.g. D-then-I re-insert — and upsert's tombstone-then-append is
    * exactly delete-then-add, harmless when the key is new). Without
    * `seqCol` the order is unrecoverable from a DataFrame, so the
    * at-most-one-op-per-key-per-trigger precondition is ENFORCED loudly
    * (one aggregate over the request-sized micro-batch) instead of
    * silently misapplied. */
  private[streaming] def collapseCdc(batch: DataFrame, idCol: String,
                                     seqCol: Option[String]): DataFrame =
    seqCol match {
      case Some(s) =>
        import org.apache.spark.sql.expressions.Window
        val wOrd = Window.partitionBy(col(idCol))
          .orderBy(col(s).desc)
        val wAll = Window.partitionBy(col(idCol))
        batch
          .withColumn("__rn", row_number().over(wOrd))
          .withColumn("__nops", count(lit(1)).over(wAll))
          .where(col("__rn") === 1)
          .withColumn("op",
            when(col("op") === "I" && col("__nops") > 1, lit("U"))
              .otherwise(col("op")))
          .drop("__rn", "__nops")
      case None =>
        val dup = batch.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
          .where(col("n") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"CDC micro-batch carries multiple ops for $idCol=" +
            s"${dup.headOption.map(_.get(0)).getOrElse("?")} and no seq " +
            "column — pass seqCol so the batch collapses to the net op " +
            "per key (in-batch order is not recoverable otherwise)")
        batch
    }


  // ---- Streaming index maintenance: one loop, seven entry points ----
  //
  // Every maintenance entry point below is a thin call into [[maintain]],
  // which runs one trigger as: resolve the live root through the durable
  // pointer ([[SegmentStore.recoverRoot]]), collapse a CDC batch to the
  // net op per key ([[collapseCdc]]), apply tagged deletes → upserts →
  // (kNN repair) → inserts, then tail-fold in place or compact into a
  // fresh root and swap the pointer.

  /** One index family's half of [[maintain]]: the root's protocol object
    * ([[graft.index.SegmentedRoot]] — version and replay tags), the change
    * rows' key and payload columns, and the family's own tagged steps. */
  private abstract class Family(val index: SegmentedRoot, val idCol: String,
                                val payload: Seq[String]) {
    /** Net inserts and upserts reaching an uninitialized root initialize
      * it (BM25); otherwise they reach the family's upsert/append, whose
      * "not initialized" refusal fails the trigger. */
    def initOnEmpty: Boolean = false
    def delete(ids: DataFrame, root: String, tag: String): Unit
    def upsert(rows: DataFrame, root: String, tag: String): Unit
    def append(rows: DataFrame, root: String, tag: String): Unit
    def repair(root: String, tag: String): Unit = ()
    def tailFold(root: String, maxSegments: Int, tag: String): Unit
    /** Full fold into a fresh root past `maxSegments`: the root to read. */
    def compact(root: String, maxSegments: Int, tag: String): String
  }

  private def bm25(spark: SparkSession, key: String, textCol: String,
                   driftFoldShare: Double = 1.0): Family =
    new Family(IncrementalBm25, key, Seq(textCol)) {
      override def initOnEmpty = true
      def delete(ids: DataFrame, root: String, tag: String): Unit =
        IncrementalBm25.delete(ids, idCol, root, Some(tag))
      def upsert(rows: DataFrame, root: String, tag: String): Unit =
        IncrementalBm25.upsert(rows, idCol, textCol, root, 1, Some(tag))
      def append(rows: DataFrame, root: String, tag: String): Unit =
        if (IncrementalBm25.version(root) == 0)
          IncrementalBm25.init(rows, idCol, textCol, root, 1, Some(tag))
        else IncrementalBm25.append(rows, idCol, textCol, root, 1, Some(tag))
      def tailFold(root: String, maxSegments: Int, tag: String): Unit =
        IncrementalBm25.tailFoldIfNeeded(spark, root, idCol, maxSegments,
          tag = Some(tag), driftFoldShare = driftFoldShare)
      def compact(root: String, maxSegments: Int, tag: String): String =
        IncrementalBm25.compactIfNeeded(spark, root, idCol, maxSegments, Some(tag))
    }

  private def ivf(spark: SparkSession): Family =
    new Family(IncrementalIvf, "vec_id", Seq("embedding")) {
      def delete(ids: DataFrame, root: String, tag: String): Unit =
        IncrementalIvf.delete(ids, root, Some(tag))
      def upsert(rows: DataFrame, root: String, tag: String): Unit =
        IncrementalIvf.upsert(rows, root, Some(tag))
      def append(rows: DataFrame, root: String, tag: String): Unit =
        IncrementalIvf.append(rows, root, Some(tag))
      def tailFold(root: String, maxSegments: Int, tag: String): Unit =
        IncrementalIvf.tailFoldIfNeeded(spark, root, maxSegments, tag = Some(tag))
      def compact(root: String, maxSegments: Int, tag: String): String =
        IncrementalIvf.compactIfNeeded(spark, root, maxSegments, Some(tag))
    }

  /** The graph family over (vec_id, embedding) rows, or — with `dataDir` —
    * over (doc_id, text) rows embedded into that corpus's FROZEN tfidf
    * space ([[graft.index.TfIdfGraphIndex.embedDocsDense]]). */
  private def knn(spark: SparkSession, nprobe: Int, k: Int,
                  dataDir: Option[String] = None): Family =
    new Family(IncrementalKnn, dataDir.fold("vec_id")(_ => "doc_id"),
        Seq(dataDir.fold("embedding")(_ => "text"))) {
      private def embed(rows: DataFrame): DataFrame = dataDir.fold(rows)(
        graft.index.TfIdfGraphIndex.embedDocsDense(spark, _, rows))
      def delete(ids: DataFrame, root: String, tag: String): Unit =
        IncrementalKnn.delete(ids.withColumnRenamed(idCol, "vec_id"), root,
          Some(tag))
      def upsert(rows: DataFrame, root: String, tag: String): Unit =
        IncrementalKnn.upsert(embed(rows), root, nprobe, k, Some(tag))
      def append(rows: DataFrame, root: String, tag: String): Unit =
        IncrementalKnn.append(embed(rows), root, nprobe, k, Some(tag))
      override def repair(root: String, tag: String): Unit =
        IncrementalKnn.repair(spark, root, nprobe, k, Some(tag))
      def tailFold(root: String, maxSegments: Int, tag: String): Unit =
        IncrementalKnn.tailFoldIfNeeded(spark, root, maxSegments, tag = Some(tag))
      def compact(root: String, maxSegments: Int, tag: String): String =
        IncrementalKnn.compactIfNeeded(spark, root, k, maxSegments, Some(tag))
    }

  /** Stream `rows` into the index at `indexRoot`, one [[maintain]] call
    * per micro-batch. `cdc` batches carry (op, id, payload) changelog rows;
    * otherwise every row is an insert. */
  private def maintainStream(rows: DataFrame, checkpoint: String,
                             indexRoot: String, cdc: Boolean,
                             seqCol: Option[String], maxSegments: Int,
                             tailFold: Boolean)
                            (family: SparkSession => Family): StreamingQuery =
    onEachBatch(rows, checkpoint) { (batch: DataFrame, batchId: Long) =>
      maintain(family(batch.sparkSession), batch, batchId, indexRoot, cdc,
        seqCol, maxSegments, tailFold)
    }

  /** The per-trigger index maintenance loop — the bounded-storage,
    * exactly-once loop every maintenance entry point runs, inside
    * [[withLeaseRetry]]:
    *
    *   1. resolve the live root through the durable `<indexRoot>.current`
    *      pointer ([[SegmentStore.recoverRoot]] — first trigger:
    *      `indexRoot` itself; also finishes a crashed compaction swap and
    *      retires the root the PREVIOUS swap superseded, so a serving frame
    *      planned against it has one trigger interval to collect);
    *   2. collapse a CDC batch to the net op per key ([[collapseCdc]]);
    *   3. deletes (tag `del_N`), upserts (`ups_N`), the kNN repair
    *      (`rep_N`, after any delete or upsert — BEFORE the inserts, so a
    *      compaction they trigger folds the healed edges, and a doc
    *      inserted after deletes is born with its exact surviving top-k),
    *      then inserts (`batch_N`);
    *   4. when the root is initialized, on EVERY op mix: tail-fold in
    *      place (`fold_N`, the root path never moves), or compact into a
    *      fresh root carrying `batch_N` and swap the pointer.
    *
    * Empty-root rule: deletes that reach an uninitialized root are no-ops
    * in every family; net inserts and upserts initialize a BM25 root and
    * fail the trigger with the family's "not initialized" error on an IVF
    * or kNN root (which must be initialized first — `init` freezes the
    * centroids).
    *
    * Replay rule (Spark replays the one uncommitted batch after a crash;
    * [[withLeaseRetry]] re-runs a refused body): every step is tagged, and
    * a tag visible on ANY committed version skips its step. A root that
    * already carries `batch_N` — committed by the insert append, or by the
    * compaction the pointer swapped to — has applied steps 2–3 of this
    * trigger (they commit in that order), so they are skipped as a whole;
    * only the idempotent fold step runs again. */
  private def maintain(f: Family, batch: DataFrame, batchId: Long,
                       indexRoot: String, cdc: Boolean, seqCol: Option[String],
                       maxSegments: Int, tailFold: Boolean): Unit =
    withLeaseRetry {
      val ptr = s"$indexRoot.current"
      val tag = s"batch_$batchId"
      val root = SegmentStore.recoverRoot(ptr, indexRoot, tag)(
        f.index.version, f.index.committedHasTag)
      if (!f.index.committedHasTag(root, tag)) {
        val live = f.index.version(root) > 0
        val nb = if (cdc) collapseCdc(batch, f.idCol, seqCol) else batch
        def rows(op: String): DataFrame = nb.where(col("op") === op)
          .select((f.idCol +: f.payload).map(col): _*)
        val hadDels = cdc && live && {
          val dels = nb.where(col("op") === "D")
            .select(col(f.idCol).cast("long").as(f.idCol))
          !dels.isEmpty && { f.delete(dels, root, s"del_$batchId"); true }
        }
        // net upserts on an empty root that initializes are net inserts
        val upsAsIns = cdc && !live && f.initOnEmpty
        val hadUps = cdc && !upsAsIns && {
          val ups = rows("U")
          !ups.isEmpty && { f.upsert(ups, root, s"ups_$batchId"); true }
        }
        if (hadDels || hadUps) f.repair(root, s"rep_$batchId")
        val ins =
          if (!cdc) batch
          else if (upsAsIns) rows("I").unionByName(rows("U"))
          else rows("I")
        if (!ins.isEmpty) f.append(ins, root, tag)
      }
      if (f.index.version(root) > 0) {
        if (tailFold) f.tailFold(root, maxSegments, s"fold_$batchId")
        else {
          val newRoot = f.compact(root, maxSegments, tag)
          if (newRoot != root) SegmentStore.setPointer(ptr, newRoot)
        }
      }
    }

  /** Streaming BM25 index maintenance: each micro-batch of new documents
    * becomes ONE committed segment of an [[IncrementalBm25]] index (the
    * first initializes it) — the ingest half of the search story (the
    * reference re-upserts delta points into its live Qdrant index,
    * `scripts/indexing.py:214-260`; here search stays available
    * throughout because readers always see the last PUBLISHED stats
    * version, never a half-appended segment). Past `maxSegments` the
    * trigger compacts and swaps the pointer. Exactly-once and
    * bounded-storage per [[maintain]]. */
  def indexIngest(docs: DataFrame, indexRoot: String, checkpoint: String,
                  idCol: String = "doc_id", textCol: String = "text",
                  maxSegments: Int = Int.MaxValue)
      : StreamingQuery =
    maintainStream(docs, checkpoint, indexRoot, cdc = false, None,
      maxSegments, tailFold = false)(bm25(_, idCol, textCol))

  /** CDC-shaped [[indexIngest]]: each micro-batch of (op, doc_id, text)
    * changelog rows collapses to the net op per key ([[collapseCdc]] —
    * pass `seqCol` when a trigger can carry multiple ops for one key),
    * then DELETES tombstone ([[IncrementalBm25.delete]] — the doc leaves
    * every `topK` this trigger, stats stale until compaction per the
    * Lucene contract), op=U UPSERTS in place ([[IncrementalBm25.upsert]]
    * — same id, new text), and INSERTS append, per [[maintain]]. On an
    * uninitialized root, net-U rows fold into the init set (they are net
    * inserts by definition there). With `tailFoldCompaction`,
    * `driftFoldShare` < 1 additionally escalates to the full merge moment
    * when the stale-stats drift share crosses it
    * ([[IncrementalBm25.tailFoldIfNeeded]]) — the delete-heavy steady
    * state catches its scoring stats up without an operator call. */
  def indexCdcIngest(changes: DataFrame, indexRoot: String,
                     checkpoint: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     maxSegments: Int = Int.MaxValue,
                     seqCol: Option[String] = None,
                     tailFoldCompaction: Boolean = false,
                     driftFoldShare: Double = 1.0): StreamingQuery =
    maintainStream(changes, checkpoint, indexRoot, cdc = true, seqCol,
      maxSegments, tailFoldCompaction)(bm25(_, idCol, textCol, driftFoldShare))

  /** CDC-shaped [[ivfIngest]]: the micro-batch collapses to the net op per
    * key ([[collapseCdc]]; pass `seqCol` for multi-op-per-key triggers),
    * then deletes tombstone first ([[IncrementalIvf.delete]] — exclusion
    * IS rebuild semantics for IVF, so the served index equals a rebuild
    * without the deleted vectors from this trigger on, no staleness and no
    * repair step needed), upserts and inserts follow, per [[maintain]].
    * The root must be initialized first ([[IncrementalIvf.init]] freezes
    * the centroids). `tailFoldCompaction` folds in place — O(tail) per
    * trigger instead of the full fold's O(corpus) rewrite, the pointer
    * never moves. */
  def ivfCdcIngest(changes: DataFrame, indexRoot: String,
                   checkpoint: String,
                   maxSegments: Int = Int.MaxValue,
                   seqCol: Option[String] = None,
                   tailFoldCompaction: Boolean = false): StreamingQuery =
    maintainStream(changes, checkpoint, indexRoot, cdc = true, seqCol,
      maxSegments, tailFoldCompaction)(ivf)

  /** Streaming VECTOR index maintenance — the dense twin of
    * [[indexIngest]]: each micro-batch of new (vec_id, embedding) rows is
    * assigned against the frozen centroids and committed as ONE segment of
    * an [[IncrementalIvf]] index. Unlike the in-place
    * `IvfIndex.appendAssign` demo (which appends files into the live
    * assigned dir, so a crashed task can leave a torn append visible),
    * the segment commit is atomic and batch-id-tagged: readers see only
    * published versions, redelivered batches are no-ops — exactly-once in
    * effect. The root must be initialized first ([[IncrementalIvf.init]]
    * freezes the centroids); empty micro-batches are skipped. */
  def ivfIngest(vectors: DataFrame, indexRoot: String, checkpoint: String,
                maxSegments: Int = Int.MaxValue)
      : StreamingQuery =
    maintainStream(vectors, checkpoint, indexRoot, cdc = false, None,
      maxSegments, tailFold = false)(ivf)

  /** Streaming kNN-GRAPH maintenance: each micro-batch of new (vec_id,
    * embedding) rows becomes one committed [[IncrementalKnn]] segment —
    * the new vectors probe the whole graph so far AND every prior vector
    * gains the batch as candidates, so the merged graph stays hash-exact a
    * whole-corpus rebuild after every trigger. Same exactly-once
    * discipline as [[ivfIngest]]. The graph that SemDeDup clustering /
    * diversity audits read is therefore never stale by more than one
    * trigger interval. */
  def knnIngest(vectors: DataFrame, graphRoot: String, checkpoint: String,
                nprobe: Int, k: Int,
                maxSegments: Int = Int.MaxValue): StreamingQuery =
    maintainStream(vectors, checkpoint, graphRoot, cdc = false, None,
      maxSegments, tailFold = false)(knn(_, nprobe, k))

  /** Streaming TEXT-graph maintenance — `mode=graph`'s freshness story:
    * each micro-batch of new (doc_id, text) rows embeds into the FROZEN
    * corpus tfidf space driver-declared from `dataDir`'s idf artifact
    * ([[graft.index.TfIdfGraphIndex.embedDocsDense]] — the model never
    * retrains per delta, exactly like the reference's frozen `bge-small`
    * weights) and lands as one committed [[IncrementalKnn]] segment of the
    * serving graph. A document is therefore graph-searchable one trigger
    * interval after it arrives, without any rebuild — the reference's
    * live-HNSW-insert behavior (`scripts/indexing.py:214-260`) on Spark's
    * micro-batch clock. Same exactly-once + bounded-storage discipline as
    * [[knnIngest]]; the root must be initialized first (e.g. by
    * [[graft.index.TfIdfGraphIndex.ensureGrown]] or an explicit
    * `IncrementalKnn.init` over the build corpus). */
  def textGraphIngest(docs: DataFrame, dataDir: String, graphRoot: String,
                      checkpoint: String, nprobe: Int, k: Int,
                      maxSegments: Int = Int.MaxValue): StreamingQuery =
    maintainStream(docs, checkpoint, graphRoot, cdc = false, None,
      maxSegments, tailFold = false)(knn(_, nprobe, k, Some(dataDir)))

  /** CDC-shaped [[textGraphIngest]] — the full index-maintenance pipeline
    * a CRUD store feeds: each micro-batch of (op, doc_id, text) changelog
    * rows collapses to the net op per key ([[collapseCdc]] — pass
    * `seqCol` when one trigger can carry several ops for a key), then
    * applies DELETES ([[IncrementalKnn.delete]] tombstones — the doc
    * leaves every serving read this trigger), UPDATES in place under the
    * same id ([[IncrementalKnn.upsert]] — versioned tombstone + same-id
    * re-embed+append), and INSERTS (frozen-space embed + append, like
    * [[textGraphIngest]]), all inside the ONE single-writer loop of
    * [[maintain]], so deletes can never race a concurrent compaction swap.
    * Every delete- or update-carrying trigger runs
    * [[IncrementalKnn.repair]] — the delta-cost neighbor healing — BEFORE
    * the insert half, so the served graph NEVER degrades: after each
    * trigger it equals a rebuild over the current rows (the a29/a30
    * exactness arguments), without any rebuild ever running. With
    * `tailFoldCompaction` the root folds in place
    * ([[IncrementalKnn.tailFold]] — pure reorganization; it does NOT
    * reclaim tombstones or repair segments, so schedule
    * [[IncrementalKnn.compact]] as the deep clean). */
  def textGraphCdcIngest(changes: DataFrame, dataDir: String,
                         graphRoot: String, checkpoint: String,
                         nprobe: Int, k: Int,
                         maxSegments: Int = Int.MaxValue,
                         seqCol: Option[String] = None,
                         tailFoldCompaction: Boolean = false): StreamingQuery =
    maintainStream(changes, checkpoint, graphRoot, cdc = true, seqCol,
      maxSegments, tailFoldCompaction)(knn(_, nprobe, k, Some(dataDir)))

  /** Streaming percolation: saved-search alerts fire on each arriving
    * micro-batch ([[graft.search.Percolate]] — conjunctive match is
    * per-document, so the stream needs NO state: every doc is evaluated
    * once in the batch it arrives in, and the union of per-batch matches
    * equals the batch run over the whole corpus (StreamingSpec pins the
    * equality). Matches append to `outPath` as parquet; at-least-once
    * delivery can duplicate a batch's rows on redelivery — consumers key
    * on (alert_id, doc id), the same idempotence contract as the
    * reference's re-upserted delta points. */
  def percolateIngest(docs: DataFrame, alerts: DataFrame, outPath: String,
                      checkpoint: String, idCol: String = "doc_id",
                      textCol: String = "text"): StreamingQuery =
    onEachBatch(docs, checkpoint) { (batch: DataFrame, _: Long) =>
      graft.search.Percolate.matches(batch, alerts, idCol, textCol)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
    }

  /** Streaming VECTOR percolation — the dense twin of
    * [[percolateIngest]]: every micro-batch of (vec_id, embedding) rows
    * is scored against the broadcast saved-alert vectors
    * ([[graft.search.Percolate.vectorMatches]]) and the fired
    * (alert_id, vec_id, score) rows append to the sink. Stateless per
    * document — the union of per-batch results equals the batch run
    * (StreamingSpec pins it). */
  def vectorPercolateServe(docs: DataFrame, alerts: DataFrame,
                           outPath: String,
                           checkpoint: String): StreamingQuery =
    onEachBatch(docs, checkpoint) { (batch: DataFrame, _: Long) =>
      graft.search.Percolate.vectorMatches(batch, alerts)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
    }

  /** Streaming HYBRID percolation — the term+vector member of the
    * percolation matrix's streaming column ([[percolateIngest]] = term,
    * [[vectorPercolateServe]] = vector): each micro-batch of (idCol,
    * textCol, embedding) rows fires alerts that match BOTH the
    * conjunctive term list and the similarity threshold
    * ([[graft.search.Percolate.hybridMatches]]); fired (alert_id, id,
    * score) rows append to `outPath`. Stateless per document like the
    * other two — the union of per-batch firings equals the batch run
    * (StreamingSpec pins it). `inverted` picks the alert-corpus-scale
    * composition ([[graft.search.Percolate.hybridMatchesInverted]] —
    * same fired set, no alert broadcast) for million-alert
    * subscription stores. */
  def hybridPercolateServe(docs: DataFrame, alerts: DataFrame,
                           outPath: String, checkpoint: String,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           inverted: Boolean = false): StreamingQuery =
    onEachBatch(docs, checkpoint) { (batch: DataFrame, _: Long) =>
      val emb = batch.select(col(idCol).cast("long").as("vec_id"),
        col("embedding"))
      val m =
        if (inverted) graft.search.Percolate.hybridMatchesInverted(
          batch, emb, alerts, idCol, textCol)
        else graft.search.Percolate.hybridMatches(
          batch, emb, alerts, idCol, textCol)
      m.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
    }

  /** Streaming ANN serving: a continuous stream of (qid, qvec) query rows
    * answered per micro-batch by ONE batched IVF plan over a PERSISTED
    * assignment ([[graft.search.Ann.ivfTopKBatched]]). The index is the
    * static side — built once, partitioned by centroid — and each trigger
    * pays a single pass over the union of the batch's probed lists, not
    * one job per query. This is the throughput half of the reference's
    * serving story (its HTTP handler answers queries one at a time,
    * `app/api/endpoints/search.py:104-132`): micro-batch triggers give a
    * latency/throughput dial instead of a per-request floor, and the
    * checkpoint makes the query log replayable exactly-once into `sink`.
    */
  def annServe(queryStream: DataFrame, assigned: DataFrame,
               centroids: DataFrame, checkpoint: String,
               nprobe: Int, k: Int)
              (sink: (DataFrame, Long) => Unit): StreamingQuery =
    onEachBatch(queryStream, checkpoint) { (batch: DataFrame, batchId: Long) =>
      sink(graft.search.Ann
        .ivfTopKBatched(assigned, centroids, batch, nprobe, k), batchId)
    }

  /** Streaming GRAPH-ANN serve — [[annServe]]'s graph-walk twin: vector
    * queries arrive as (qid, qvec) rows and each micro-batch is answered
    * as ONE [[graft.search.Ann.graphTopKBatched]] plan over the prebuilt
    * edge artifact (entries via `hierEntriesBatched` — the coarse layer
    * is scanned once per batch, not per query). The micro-batch is the
    * amortization unit, exactly like the batched HTTP path. */
  def graphServe(queryStream: DataFrame, edges: DataFrame,
                 vectors: DataFrame, checkpoint: String,
                 sampleMod: Int, e: Int, beam: Int, hops: Int, k: Int)
                (sink: (DataFrame, Long) => Unit): StreamingQuery =
    onEachBatch(queryStream, checkpoint) { (batch: DataFrame, batchId: Long) =>
      sink(graft.search.Ann.graphTopKBatched(edges, vectors, batch,
        graft.search.Ann.hierEntriesBatched(vectors, batch, sampleMod, e),
        beam, hops, k), batchId)
    }

  /** Streaming HYBRID serve — the flagship query's streaming form: text
    * queries arrive as (qid, qtext) rows and each micro-batch is answered as
    * ONE batched hybrid plan (`SearchEngine.textHybridBatched`: TF-IDF
    * dense arm + BM25 sparse arm, each a single index scan, per-qid RRF).
    * The micro-batch IS the amortization unit: job floor and index scans
    * are paid once per batch, so serving latency per query falls with
    * arrival rate — the Spark-native answer to a query-at-a-time HTTP
    * tier. The query batch collects driver-side (queries embed
    * driver-side by design, like the reference's request handler; a
    * micro-batch is request-sized, never corpus-sized). */
  def hybridServe(queryStream: DataFrame, dataDir: String, checkpoint: String,
                  k: Int)
                 (sink: (DataFrame, Long) => Unit): StreamingQuery =
    onEachBatch(queryStream, checkpoint) { (batch: DataFrame, batchId: Long) =>
      val qs = batch.select(col("qid").cast("long"), col("qtext"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      sink(graft.search.SearchEngine
        .textHybridBatched(batch.sparkSession, dataDir, qs, k), batchId)
    }

  /** Declarative gap-sessionization: Spark's native `session_window`
    * (watermarked, state managed by the engine) — the zero-custom-code
    * twin of [[sessionize]]; use mapGroupsWithState only when the session
    * payload outgrows what an aggregate can express. */
  def sessionWindows(events: DataFrame, watermark: String,
                     gap: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Stream-stream interval join (the impression⋈click shape of a
    * training-data event pipeline): each left row matches right rows with
    * the same key whose timestamp lands in [left.ts, left.ts + horizon].
    * BOTH sides carry watermarks and the join predicate bounds the time
    * range, so the state store can evict rows once the watermark passes
    * their horizon — the only stream-stream join formulation with bounded
    * state. Inner join: unmatched rows drop (use left-outer + watermark
    * for emit-on-timeout semantics).
    *
    * Columns of `left`/`right` must be pre-aliased distinctly (e.g.
    * `l_ts`/`r_ts`); `keyCols` is the (left name, right name) equi-key.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keyCols: (String, String),
                   tsCols: (String, String),
                   watermark: String, horizon: String): DataFrame = {
    val l = left.withWatermark(tsCols._1, watermark)
    val r = right.withWatermark(tsCols._2, watermark)
    l.join(r,
      col(keyCols._1) === col(keyCols._2) &&
        col(tsCols._2) >= col(tsCols._1) &&
        col(tsCols._2) <= col(tsCols._1) + expr(s"INTERVAL $horizon"))
  }

  final case class Event(ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  final case class Session(user_id: Long, n_events: Long, total_value: Double)

  /** Stateful sessionization via mapGroupsWithState: per-user running
    * aggregates with a processing-time idle timeout. The state store keeps
    * one small record per active user — partitioned by key, cluster-safe.
    * `timeoutMs <= 0` disables the idle timeout (NoTimeout) — that mode is
    * also what deterministic tests use, since processing-time timeouts
    * schedule empty batches forever and `processAllAvailable` never
    * settles. */
  def sessionize(events: Dataset[Event], timeoutMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, Session](timeoutConf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Session(userId, s.nEvents, s.total)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            var n = prev.nEvents; var tot = prev.total; var last = prev.lastTs
            rows.foreach { e =>
              n += 1; tot += e.value; last = math.max(last, e.ts.getTime)
            }
            state.update(SessionState(n, tot, last))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Session(userId, n, tot)
          }
      }
  }
}
