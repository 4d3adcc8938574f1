package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashOps, TextOps}

/** Deduplication operators for training-data pipelines (the 100 TB
  * extension the reference never needed — SURVEY §7.1 step 10).
  *
  * Scale design notes:
  *  - exact dedup is one hash-groupBy — a single shuffle on the dedup key;
  *  - MinHash/LSH replaces the quadratic all-pairs comparison with a
  *    band-bucket equi-join: candidates shuffle on band keys only, and the
  *    expensive true-Jaccard check runs on candidates, not on N²;
  *  - blocked Jaccard/cosine joins shuffle on the block key (lang / label),
  *    which is the classic blocking strategy — no cross-partition N².
  * All hash arithmetic is md5-derived int64 (cross-engine deterministic,
  * see HashOps) and stays far below 2^63 — no overflow on any engine.
  */
object Dedup {

  /** Session conf key selecting how iteration/consumption barriers
    * materialize (every engine site that must cut lineage or stop a
    * projection collapse — here, in `Graph`, `Bm25`, `Multimodal` and the
    * pipeline queries — goes through [[barrier]]):
    *
    *  - `local` (default): `localCheckpoint` — eager, executor-local
    *    blocks, fastest. Single-JVM/bench trade: a lost executor fails
    *    the job instead of recomputing (blocks are unreplicated and
    *    lineage is truncated).
    *  - `reliable`: `Dataset.checkpoint` to the SparkContext's checkpoint
    *    dir (must be set; DFS on a cluster) — survives executor AND
    *    driver-cache loss; costs a DFS write and Spark's
    *    checkpoint-recompute (the plan may run twice per barrier).
    *
    * Any other value is rejected. Both modes are EAGER, so observe-metrics
    * riding a barrier fire in either mode and downstream plan shapes are
    * identical — DedupSpec pins value-identity across modes. */
  val BarrierModeKey = "spark.graft.barrierMode"

  private def reliableBarriers(df: DataFrame): Boolean =
    df.sparkSession.conf.get(BarrierModeKey, "local") match {
      case "local" => false
      case "reliable" => true
      case other => throw new IllegalArgumentException(
        s"$BarrierModeKey must be 'local' or 'reliable', got '$other'")
    }

  private[graft] def barrier(df: DataFrame): DataFrame =
    if (reliableBarriers(df)) df.checkpoint() else df.localCheckpoint()

  /** Free a no-longer-referenced barrier's blocks promptly (previous
    * round's labels or ranks): local blocks unpersist; reliable
    * checkpoint files stay until the context cleaner collects them. */
  private[graft] def releaseBarrier(df: DataFrame): Unit =
    if (!reliableBarriers(df)) df.unpersist(blocking = false)

  /** Exact dedup on a normalized key: the sorted distinct token set (catches
    * reorderings and repeats, not just byte-identical text). One shuffle.
    * Emits groups with more than one member: (keeper = min id, n_dups). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        array_join(array_sort(array_distinct(TextOps.tokens(col(textCol)))), " ")
          .as("dedup_key"))
      .groupBy(col("dedup_key"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("group_size"))
      .where(col("group_size") > 1)
      .select(col("keeper"), col("group_size"))
      .orderBy(col("keeper"))

  /** Distinct word n-gram shingles per doc as ROWS: (id, blockCol, shingle).
    *
    * Shape matters for performance here, found by measurement at sf0.1:
    *  - tokens MUST be materialized in their own projection — inlined into
    *    the shingle lambda, every `element_at` re-evaluates the whole
    *    split+filter (no CSE through lambda bodies; 10-30× slower);
    *  - the shingle array feeds `explode` in the SAME select — the
    *    Generate acts as an optimizer barrier, so predicate pushdown can't
    *    re-inline the token expression either;
    *  - `array_distinct` inside the lambda gives per-doc distinctness, so
    *    no extra `.distinct()` shuffle is needed. Net: zero shuffles. */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
                          blockCol: String, n: Int): DataFrame =
    docs.select(col(idCol), col(blockCol),
        TextOps.shingles(TextOps.tokens(col(textCol)), n).as("__sh"))
      // the doc's distinct-shingle count rides every exploded row as one
      // int (`__shsz` == what a separate `groupBy(id).count()` over this
      // frame returns — shingles are distinct by construction): the
      // Jaccard/containment consumers read sizes off the join output
      // instead of re-aggregating the corpus-scale index and joining the
      // sizes back in twice (r16, guide §2.3/§2.4)
      .select(col(idCol), col(blockCol), size(col("__sh")).as("__shsz"),
        explode(col("__sh")).as("shingle"))

  /** All-pairs n-gram Jaccard within a blocking key (lang): pairs with
    * similarity >= threshold. Jaccard is a ratio of small ints — exactly
    * reproducible in any engine, no FP drift.
    *
    * Implementation is an **inverted-index join**, not a blocked Cartesian:
    * explode shingles, equi-join on (block, shingle), count shared
    * shingles per pair, then jaccard = common / (|A| + |B| - common).
    * Only pairs that actually share a shingle ever materialize — at sf0.1
    * that's ~326k intermediate rows vs ~2.4M array-intersect pairs, and
    * at 100 TB it's the difference between a shuffle join and an
    * impossible N² comparison.
    *
    * The inverted index is `localCheckpoint`ed (eager + executor-local) to
    * evaluate the shingle pipeline once; see [[connectedComponents]] for
    * the cluster-scale fault-tolerance caveat and alternatives. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   blockCol: String, n: Int, threshold: Double): DataFrame =
    // The inverted index feeds BOTH self-join sides and the sizes agg —
    // three evaluations of the tokenize+shingle pipeline without this
    // checkpoint (self-joins don't share scans).
    ngramJaccardFromInv(barrier(shingleRows(docs, idCol, textCol, blockCol, n)),
      idCol, blockCol, threshold)

  /** [[ngramJaccard]] over a caller-materialized inverted index
    * (id, blockCol, shingle) — shared-scan composition ([[lshRecallArms]]
    * reuses one barriered shingle frame across both recall arms). */
  private def ngramJaccardFromInv(inv: DataFrame, idCol: String,
                                  blockCol: String,
                                  threshold: Double): DataFrame = {
    // Size-ratio gate INSIDE the pair join (r16): J(A,B) <= min(sz)/max(sz)
    // (common <= min, union >= max), so a pair with min < t·max can never
    // reach the declared `round(jaccard, 6) >= t` filter — it dies before
    // the pair-aggregation exchange instead of after it (25% of candidate
    // pairs at sf0.1; geometry-dependent at scale but never negative).
    // The gate is slack-padded so it can only ADMIT extra pairs, never
    // drop a qualifying one: round(J,6) >= t needs J >= t - 5e-7, so the
    // gate keeps everything with min/max >= t - 5e-7 (minus 1e-9 for the
    // double multiply itself); admitted borderline pairs are removed by
    // the exact rounded-jaccard filter below, exactly as before.
    val tGate = threshold - 5e-7
    val common = inv.select(col(blockCol), col(idCol).as("id_a"),
        col("__shsz").as("sz_a"), col("shingle"))
      .join(inv.select(col(blockCol), col(idCol).as("id_b"),
        col("__shsz").as("sz_b"), col("shingle")), Seq(blockCol, "shingle"))
      .where(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(tGate) * greatest(col("sz_a"), col("sz_b")) - lit(1e-9))
      .groupBy(col("id_a"), col("id_b"))
      // sizes are constant per pair — riding them through the aggregate
      // replaces the old corpus-scale sizes aggregation + two sizes joins
      .agg(count(lit(1)).as("common"),
        max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
    common
      .withColumn("jaccard", round(
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Containment (asymmetric Jaccard): |A∩B| / min(|A|,|B|) — catches
    * SUBSET duplication (a short doc quoted wholesale inside a longer
    * one) that symmetric Jaccard dilutes toward zero as the size gap
    * grows: a 50-shingle doc fully contained in a 500-shingle doc scores
    * jaccard 0.1 but containment 1.0 (Broder's "containment" companion
    * to resemblance). Same inverted-index shape and scale behavior as
    * [[ngramJaccard]] — only pairs sharing a shingle materialize. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, n: Int, threshold: Double): DataFrame = {
    val inv = barrier(shingleRows(docs, idCol, textCol, blockCol, n))
    // sizes ride the inverted index (see shingleRows) — no corpus-scale
    // sizes aggregation, no sizes joins. NO size-ratio gate here: a
    // subset pair has unbounded size ratio (that asymmetry is the whole
    // point of containment), so unlike Jaccard nothing is prunable from
    // sizes alone.
    val common = inv.select(col(blockCol), col(idCol).as("id_a"),
        col("__shsz").as("sz_a"), col("shingle"))
      .join(inv.select(col(blockCol), col(idCol).as("id_b"),
        col("__shsz").as("sz_b"), col("shingle")), Seq(blockCol, "shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"),
        max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
    common
      .withColumn("containment", round(
        col("common").cast("double") / least(col("sz_a"), col("sz_b")), 6))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash parameters: k=16 permutations h_j(x) = (a_j·x + b_j) mod p
    * over 32-bit md5 token hashes; 4 bands × 4 rows. a_j < 2^24 and
    * x < 2^32 keep a_j·x < 2^56 — exact in int64 everywhere. */
  val MinhashPerms = 16
  val MinhashBandRows = 4
  val MinhashPrime = 4294967311L
  def permA(j: Int): Long = 976369L * (j + 1) + 12345L
  def permB(j: Int): Long = 183451L * (j + 1) + 987L

  /** ARRAY<BIGINT> of all 16 permutation minima of a shingle-array
    * column, as ONE codegen pass per row (r16): a MinHash signature is a
    * pure function of one doc's distinct-shingle set, which the shingle
    * array already is — the explode → md5 projection → groupBy(id
    * ).agg(16×min) formulation paid a corpus-shingle-scale exchange for
    * a per-row value. Bit-identical to the aggregate form (same md5-32
    * hash, same (a_j·x+b_j) mod p arithmetic, min over the same
    * operands; pinned by MinHashExprSpec). Callers filter empty arrays
    * to keep the aggregate row set. */
  private def minhashSigsCol(shingleArr: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.MinHashSigs(
        org.apache.spark.sql.graft.ColumnBridge.expression(shingleArr)))

  /** Doc-level shingle arrays: (id, __sh) — the pre-explode twin of
    * [[shingleRows]] (same tokens, same distinct grams; `__sh` may be
    * empty where shingleRows emits no rows). */
  private def shingleArrays(docs: DataFrame, idCol: String,
                            textCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
      TextOps.shingles(TextOps.tokens(col(textCol)), n).as("__sh"))

  /** Wide MinHash signatures: one row per doc with sig0..sig15 columns.
    * All 16 permutation minima come from ONE codegen pass over the doc's
    * shingle array ([[minhashSigsCol]]) — zero shuffles (the r15
    * SimHash32 treatment applied to MinHash; the old static-aggregate
    * form paid one corpus-shingle-scale exchange). */
  def minhashSignaturesWide(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame = {
    val sigCols = (0 until MinhashPerms).map { j =>
      element_at(col("__sigs"), j + 1).as(s"sig$j")
    }
    shingleArrays(docs, idCol, textCol, n)
      .where(size(col("__sh")) > 0) // aggregate row set: no shingles, no row
      .select(col(idCol), minhashSigsCol(col("__sh")).as("__sigs"))
      .select(col(idCol) +: sigCols: _*)
  }

  /** MinHash signatures: (id, j, sig) — one row per permutation
    * (narrow view over [[minhashSignaturesWide]]). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame = {
    val wide = minhashSignaturesWide(docs, idCol, textCol, n)
    val stacked = (0 until MinhashPerms)
      .map(j => s"$j, sig$j").mkString(", ")
    wide.select(col(idCol),
      expr(s"stack($MinhashPerms, $stacked) as (j, sig)"))
      .select(col(idCol), col("j").cast("int").as("j"), col("sig"))
  }

  /** LSH band rows (id, band_id, band) for a document set: 4 band rows
    * per doc, each a "jj:sig,..." string (format matches the SQL oracle's
    * string_agg ordered by j). Used by `DeltaStream.lshDedupIngest` (the
    * streaming ingest gate, which joins fresh band rows against a
    * persisted store of them); [[minhashLsh]] builds the same band keys
    * inline with the signature array carried alongside. */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val nBands = MinhashPerms / MinhashBandRows
    val bandStructs = (0 until nBands).map { b =>
      val key = concat_ws(",", (0 until MinhashBandRows).map { r =>
        val j = b * MinhashBandRows + r
        format_string("%02d:%d", lit(j), col(s"sig$j"))
      }: _*)
      struct(lit(b).as("band_id"), key.as("band"))
    }
    minhashSignaturesWide(docs, idCol, textCol, n)
      .select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band_id").as("band_id"), col("bb.band").as("band"))
  }

  /** MinHash + LSH near-dup pairs: band-bucket join proposes candidates,
    * true shingle Jaccard >= threshold confirms. Output
    * (id_a, id_b, jaccard), deterministic ordering.
    *
    * Truncation semantics: pairs are emitted at their first shared band
    * whose bucket RETAINED both members after the [[MaxBucketSize]] cap —
    * a pair whose first shared bucket overflowed and dropped a member is
    * recovered at the next shared band that kept both (see
    * [[lshCandidates]]). The only residual loss is a pair EVERY one of
    * whose shared buckets dropped a member — unavoidable under any cap,
    * and still flagged by `truncated_buckets > 0` in
    * [[BucketStatsMetric]]. ([[simhashPairs]] retains the cruder
    * first-shared-band-only rule; its banding is pigeonhole-lossless so
    * overflow there means a degenerate single-cluster corpus.) */
  /** Broadcast the confirm-pass candidate-id prune only while the pair
    * count bounds the id set at roughly executor-broadcast scale. A crawl
    * corpus with a 30–50% near-dup rate produces hundreds of millions of
    * candidate ids — far over any broadcast threshold — so above this the
    * prune becomes a shuffled semi-join on the same key. The pair count is
    * read off the already-checkpointed candidate blocks (a count over
    * materialized rows, no recompute). */
  val MaxBroadcastCandPairs = 2000000L

  /** Observed-metrics node carrying the candidate-set cardinality of an
    * LSH run (`cand_pairs`) and whether the confirm prune broadcast
    * (`broadcast_prune` 1/0) — read via
    * `df.queryExecution.observedMetrics` after an action. */
  val CandStatsMetric = "graft_lsh_cand_stats"

  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 n: Int, threshold: Double,
                 broadcastCandLimit: Long = MaxBroadcastCandPairs,
                 maxBucketSize: Int = MaxBucketSize): DataFrame =
    minhashLshFromShingles(
      shingleArrays(docs, idCol, textCol, n),
      idCol, threshold, broadcastCandLimit, maxBucketSize)

  /** [[minhashLsh]] over prebuilt (id, __sh shingle-array) rows — the
    * signature build and the confirm-pass inverted index both read the
    * given frame, so a caller that shares it across consumers (d20's
    * [[lshRecallArms]] barriers it once) evaluates the tokenize+shingle
    * pipeline exactly once. Plan-identical to [[minhashLsh]] when handed
    * the raw pipeline. */
  private def minhashLshFromShingles(shingles: DataFrame, idCol: String,
                                     threshold: Double,
                                     broadcastCandLimit: Long,
                                     maxBucketSize: Int): DataFrame = {
    // Bands built locally (not via minhashBands) so each member carries
    // its full signature array into the bucket payload: pair expansion
    // tests first-shared-band emission against earlier bands' slices,
    // which needs the sigs next to the id. Signatures are ONE codegen
    // pass per doc over the shingle array (minhashSigsCol) — the old
    // explode + groupBy(id).agg(16×min) build paid a corpus-shingle-
    // scale exchange here (r16, guide §2.4).
    val nBands = MinhashPerms / MinhashBandRows
    val bandStructs = (0 until nBands).map { b =>
      val key = concat_ws(",", (0 until MinhashBandRows).map { r =>
        val j = b * MinhashBandRows + r
        format_string("%02d:%d", lit(j), element_at(col("__sigs"), j + 1))
      }: _*)
      struct(lit(b).as("band_id"), key.as("band"))
    }
    val bands = shingles
      .where(size(col("__sh")) > 0) // aggregate row set: no shingles, no row
      .select(col(idCol), minhashSigsCol(col("__sh")).as("__sigs"))
      .select(struct(col(idCol).as("id"), col("__sigs").as("sigs")).as("m"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("m"), col("bb.band_id").as("band_id"), col("bb.band").as("band"))
    // Candidates by grouping each LSH bucket and expanding pairs inside it
    // — ONE pass over the signature pipeline and one shuffle, instead of a
    // self-join that recomputes the whole signature subtree for each side.
    // Candidate pairs are consumed twice (broadcast prune + final confirm
    // join) and sit atop the whole signature pipeline — materialize them
    // once with localCheckpoint. Unlike persist() (whose CacheManager
    // entry lives until explicitly unpersisted — a leak per call from a
    // long-lived service), checkpointed blocks are released by the
    // ContextCleaner when the result becomes unreachable. Candidates are
    // a vanishing fraction of the corpus, so the footprint is trivial.
    val cand = barrier(lshCandidates(bands, maxBucketSize))

    // True-Jaccard confirm, restricted to candidate docs first (semi-join
    // prune, broadcast only under the size gate below) then counted via
    // the same inverted-index shape as ngramJaccard — when candidates are
    // a small fraction of the corpus this stage is near-free at any scale.
    val inv = shingles.select(col(idCol), explode(col("__sh")).as("shingle"))
    // Size-gated prune: cand is already materialized (localCheckpoint), so
    // this count scans executor-local blocks only. 2×pairs bounds the
    // distinct-id count from above.
    val candPairs = cand.count()
    val candIds = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b").as(idCol))).distinct()
      .observe(CandStatsMetric,
        count(lit(1)).as("cand_ids"), lit(candPairs).as("cand_pairs"),
        max(lit(if (2 * candPairs <= broadcastCandLimit) 1L else 0L))
          .as("broadcast_prune"))
    val prunedIds =
      if (2 * candPairs <= broadcastCandLimit) broadcast(candIds) else candIds
    val candInv = inv.join(prunedIds, Seq(idCol), "left_semi")
    // Shingle-set sizes only matter for candidate docs, so compute them
    // from the ALREADY-PRUNED candInv — aggregating the full corpus here
    // (the round-1 shape) paid a corpus-wide shuffle per LSH run for
    // values that are discarded for every non-candidate doc.
    val sizes = candInv.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val common = candInv.select(col(idCol).as("id_a"), col("shingle"))
      .join(candInv.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    cand.join(common, Seq("id_a", "id_b")) // keep only LSH-proposed pairs
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", round(
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The two arms of an LSH recall measurement (d20) over ONE shared
    * barriered shingle frame: (exact Jaccard pairs, LSH-confirmed pairs)
    * at the same n/threshold. Composed separately, [[ngramJaccard]] and
    * [[minhashLsh]] each rebuild the tokenize+shingle pipeline (three
    * corpus-scale evaluations total: the exact inverted index, the
    * signature build, and the confirm-pass index); here all three read
    * one materialized frame. Pair VALUES are identical to the separate
    * composition — the arms' plans are unchanged above the scan. */
  def lshRecallArms(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, threshold: Double): (DataFrame, DataFrame) = {
    // The barrier holds the PRE-explode array frame (r16): smaller blocks
    // (one row per doc), and the LSH arm's signature build reads the
    // array directly (one codegen pass, no explode at all). The exact
    // arm's inverted index and the LSH confirm pass explode it — a cheap
    // Generate over checkpointed blocks, never a pipeline recompute.
    val arr = barrier(
      shingleArrays(docs, idCol, textCol, n).withColumn("__blk", lit(1)))
    val inv = arr.select(col(idCol), col("__blk"),
      size(col("__sh")).as("__shsz"), explode(col("__sh")).as("shingle"))
    (ngramJaccardFromInv(inv, idCol, "__blk", threshold),
      minhashLshFromShingles(arr.select(col(idCol), col("__sh")), idCol,
        threshold, MaxBroadcastCandPairs, MaxBucketSize))
  }

  /** Degenerate-bucket guard: a bucket with more members than this yields
    * O(M²) candidate pairs from one aggregation task. Such buckets mean
    * the corpus is dominated by one near-identical cluster — pairing it
    * exhaustively is useless for dedup (cluster it instead), so members
    * beyond the cap are dropped from candidate generation (sorted, so the
    * kept prefix is deterministic). */
  val MaxBucketSize = 10000

  /** Name of the observed-metrics node reporting bucket-cap truncation
    * (columns: truncated_buckets, max_bucket_size). The cap silently
    * changes results vs a capless oracle, so it must be attributable:
    * after an action, read `df.queryExecution.observedMetrics` (or a
    * QueryExecutionListener in production) and alarm when
    * truncated_buckets > 0. */
  val BucketStatsMetric = "graft_lsh_bucket_stats"

  /** LSH candidate pairs (id_a < id_b) from band rows
    * (m: struct(id, sigs), band_id, band), truncation-aware.
    *
    * A pair sharing SEVERAL buckets is emitted exactly once, at its
    * first shared band whose bucket RETAINED both members after the
    * bucket cap. The expanded pair set (the largest intermediate of an
    * LSH run at corpus scale) is therefore distinct by construction and
    * never pays a dedup re-shuffle. Mechanics:
    *
    *  1. [[bucketAgg]] groups band rows into buckets, trims each to the
    *     cap's deterministic sorted prefix, and marks overflowed buckets
    *     with their retention cutoff: the prefix is `array_sort` over
    *     struct(id, sigs) — lexicographic, id first, ids unique within a
    *     bucket — so "member survived the cap" is exactly
    *     `id <= cutoff_id` of the last kept element. The bucket table is
    *     barriered (it feeds both the pair expansion and the truncation
    *     scan, and sits atop the whole signature pipeline).
    *  2. Overflowed buckets are collected to the driver — they are rare
    *     by construction (only degenerate near-identical clusters exceed
    *     [[MaxBucketSize]]), and only (band_id, band key, cutoff) is
    *     collected, never members.
    *  3. The earlier-band suppression check becomes: suppress at band b
    *     iff some earlier band j has equal signature slices AND that
    *     bucket either did not overflow (absent from the collected set)
    *     or kept both members (both ids <= its cutoff). With zero
    *     overflowed buckets this degrades to the pure
    *     slices-equal comparison — the common case pays nothing.
    *
    * The only pairs still lost are those where EVERY shared bucket
    * dropped a member — unavoidable under any cap, flagged by
    * [[BucketStatsMetric]].`truncated_buckets` > 0.
    *
    * Degenerate-corpus size gate: the suppression predicate embeds the
    * collected overflowed buckets as a CASE chain — fine for the
    * rare-by-contract case, but a pathological near-identical corpus
    * could overflow thousands of buckets and the chain would become a
    * thousands-deep `when` tree (plan-size/codegen blowup, not a wrong
    * answer). Above [[OverflowSuppressGate]] overflowed buckets the
    * plan switches to the dedup-shuffle form: emit a pair at EVERY band
    * whose bucket retained both members (retention is inherent — `ms`
    * holds only retained members) and collapse duplicates with one
    * `dropDuplicates` shuffle. The pair SET is identical — "emitted at
    * the first retaining band" and "emitted at some retaining band,
    * deduped" name the same set — so the gate trades one extra shuffle
    * (on a corpus that is already pathological) for a bounded plan. */
  val OverflowSuppressGate = 64

  private[graft] def lshCandidates(bands: DataFrame, maxBucket: Int,
      overflowGate: Int = OverflowSuppressGate): DataFrame = {
    val buckets = barrier(bucketAgg(bands, maxBucket))
    // (band_id, band key, cutoff id) of overflowed buckets; tiny by
    // contract (scan of barriered blocks, no recompute). limit+1: when
    // the corpus is degenerate enough to trip the gate we never pull the
    // full overflow set to the driver at all.
    val trunc = buckets.where(col("truncated"))
      .select(col("band_id"), col("band"), col("cutoff"))
      .limit(overflowGate + 1).collect()
      .map(r => (r.getInt(0), r.getString(1), r.get(2)))
    if (trunc.length > overflowGate) {
      return buckets
        .select(col("band_id"), explode(col("ms")).as("a"), col("ms"))
        .select(col("band_id"), col("a"), explode(col("ms")).as("b"))
        .where(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
    }
    val truncByBand = trunc.groupBy(_._1)
      .map { case (b, xs) => (b, xs.map(t => (t._2, t._3)).toSeq) }
    val nBands = MinhashPerms / MinhashBandRows
    def bandKey(sigs: Column, j: Int): Column = concat_ws(",",
      (0 until MinhashBandRows).map { r =>
        val jj = j * MinhashBandRows + r
        format_string("%02d:%d", lit(jj), element_at(sigs, jj + 1))
      }: _*)
    val emittedEarlier = (0 until nBands - 1).map { j =>
      val slicesEq =
        slice(col("a.sigs"), j * MinhashBandRows + 1, MinhashBandRows) ===
          slice(col("b.sigs"), j * MinhashBandRows + 1, MinhashBandRows)
      val handledAtJ = truncByBand.get(j) match {
        case None => lit(true) // no overflow in band j: shared => emitted there
        case Some(overflowed) =>
          // An overflowed bucket in band j emitted the pair only if both
          // ids survived its prefix. The slices are equal here, so
          // testing a's reconstructed band key suffices. CASE chain over
          // the overflowed buckets of band j (rare by contract, short).
          val keyJ = bandKey(col("a.sigs"), j)
          overflowed.foldRight(lit(true): Column) {
            case ((bandK, cut), els) =>
              when(keyJ === lit(bandK),
                col("a.id") <= lit(cut) && col("b.id") <= lit(cut))
                .otherwise(els)
          }
      }
      (col("band_id") > lit(j)) && slicesEq && handledAtJ
    }.reduce(_ || _)
    buckets
      .select(col("band_id"), explode(col("ms")).as("a"), col("ms"))
      .select(col("band_id"), col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id") && !emittedEarlier)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Bucket table for [[lshCandidates]]: one row per multi-member LSH
    * bucket — (band_id, band, ms = capped sorted members, truncated,
    * cutoff = id of the last retained member when truncated, else null).
    * Carries the [[BucketStatsMetric]] observe node (fires when the
    * barrier above materializes this plan). */
  private def bucketAgg(bands: DataFrame, maxBucket: Int): DataFrame =
    bands
      .groupBy(col("band_id"), col("band"))
      .agg(array_sort(collect_list(col("m"))).as("all_ms"))
      .observe(BucketStatsMetric,
        sum(when(size(col("all_ms")) > maxBucket, 1L).otherwise(0L))
          .as("truncated_buckets"),
        max(size(col("all_ms"))).as("max_bucket_size"))
      .select(col("band_id"), col("band"),
        slice(col("all_ms"), 1, maxBucket).as("ms"),
        (size(col("all_ms")) > maxBucket).as("truncated"),
        when(size(col("all_ms")) > maxBucket,
          element_at(col("all_ms"), maxBucket).getField("id")).as("cutoff"))
      .where(size(col("ms")) > 1)

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (must be
    * < 4): candidates come from 4 byte-bands of the 32-bit simhash — by
    * pigeonhole, <= 3 differing bits can touch at most 3 of the 4 bands,
    * so two near-dups ALWAYS agree on at least one band. The banding is
    * therefore lossless: the band-bucket join yields exactly the pairs a
    * quadratic scan would, at equi-join cost.
    *
    * Output order is UNSPECIFIED (callers composing into
    * [[connectedComponents]] re-shuffle anyway; d6 sorts at the query
    * edge). A pair agreeing on several bands is emitted only at the
    * FIRST shared band — earlier bands' bytes must differ, a pure
    * expression over the carried sigs — so pairs are distinct by
    * construction with no dedup re-shuffle of the expanded pair set. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "4 byte-bands are only lossless below 4 bits")
    val sh = simhash(docs, idCol, textCol)
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band_id"),
        shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("band"))
    }
    // Carry the simhash inside the bucket payload so pair expansion can
    // compute Hamming directly — the signature subtree is consumed exactly
    // once, with no join-backs re-evaluating it.
    val bands = sh.select(
        struct(col(idCol).as("id"), col("simhash").as("sig")).as("m"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("m"), col("bb.band_id").as("band_id"), col("bb.band").as("band"))
    bands
      .groupBy(col("band_id"), col("band"))
      .agg(array_sort(collect_list(col("m"))).as("all_ms"))
      .observe(s"${BucketStatsMetric}_simhash",
        sum(when(size(col("all_ms")) > MaxBucketSize, 1L).otherwise(0L))
          .as("truncated_buckets"),
        max(size(col("all_ms"))).as("max_bucket_size"))
      .select(col("band_id"), slice(col("all_ms"), 1, MaxBucketSize).as("ms"))
      .where(size(col("ms")) > 1)
      .select(col("band_id"), explode(col("ms")).as("a"), col("ms"))
      .select(col("band_id"), col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id") && !(0 until 3).map { j =>
        (col("band_id") > lit(j)) &&
          (shiftright(col("a.sig"), j * 8).bitwiseAND(lit(255L)) ===
           shiftright(col("b.sig"), j * 8).bitwiseAND(lit(255L)))
      }.reduce(_ || _))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.sig ^ b.sig)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Dedup cluster resolution: connected components over near-dup pairs,
    * with the component's MIN id as the elected keeper — the step that
    * turns pairwise similarity into an actual keep/drop decision (every
    * large-scale dedup pipeline ends here; pairs alone don't dedup).
    *
    * Iterative min-label propagation WITH pointer jumping: each round,
    * every node takes the minimum of its own label, its neighbors' labels,
    * and two chained label-of-label hops (the jumps — labels chase their
    * own chain, so label distance quadruples per round). Converges in
    * O(log diameter) rounds with half the edge joins of single-hop
    * doubling. Each round is three equi-joins + one partial-aggregated
    * shuffle over the (tiny) node set, and labels are `localCheckpoint`ed
    * so lineage (and the plan) stays flat across iterations.
    *
    * Fault-tolerance note: `localCheckpoint` is EAGER (the input pipeline
    * materializes when this DataFrame is constructed, even if the caller
    * only inspects the plan) and its blocks are executor-LOCAL — on a real
    * cluster a lost executor fails the job instead of recomputing from
    * lineage. That is the right trade in this single-JVM harness; at
    * cluster scale set [[BarrierModeKey]] to `reliable` (a `checkpoint()`
    * to a DFS).
    *
    * Input: (aCol, bCol) pair rows. Output: (id, keeper) for every id that
    * appears in a pair — keeper == id for the kept member. Values are
    * deterministic; row ORDER is unspecified (d9 anti-joins the result,
    * d7 sorts at the query edge — an operator-level sort would insert a
    * full range exchange that every composing caller re-shuffles away).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    // Materialize the pair pipeline ONCE before symmetrizing: `fwd` feeds
    // both union arms, and without the checkpoint the (potentially
    // expensive) upstream candidate-generation pipeline would run twice
    // just to build the edge cache — measured 2x the whole pairs cost at
    // sf0.1. The edge list itself is small relative to the corpus (it is
    // the candidate-pair output), so local materialization is the cheap
    // side of the trade.
    val fwd = barrier(pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst")))
    // The edge cache is hash-laid-out (and sorted) by src ONCE (r16,
    // guide §2.4 — the bucketed-table trade applied to an in-session
    // cache): the per-round neighbor join keys on src, so at scale —
    // where node-sized labels cannot broadcast and the join plans as
    // SMJ — the corpus-pair-scale edge list is never re-shuffled or
    // re-sorted per round (OPTIMIZATION_r16.md: 210 MB → 72 MB total
    // shuffle, 70 → 61 jobs on the ×8-corpus SMJ leg; fixpoints
    // identical). The same layout serves the seed aggregation
    // (groupBy(src) below), so even in the local broadcast regime the
    // setup repartition costs zero net jobs (40 both, probe leg 1).
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")).sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Seed with round 1 for free: label(id) = min(id, min direct
    // neighbor) is one aggregation over the edge list — no join — and
    // saves a full propagation round.
    var labelsBar = barrier(edges
      .groupBy(col("src").as("id"))
      .agg(least(min(col("src")), min(col("dst"))).as("label")))
    var labels = labelsBar
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // Join ON src (the cache's layout key) and group the messages by
      // dst: by edge symmetry (both directions are in the list), "min
      // of label(dst) per src" and "min of label(src) per dst" name the
      // same per-node neighbor minimum — bit-identical integer mins.
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("label").as("nbr_label")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("nbr_label")).as("nbr_min"))
      val jump = labels.select(col("id").as("__lid"), col("label").as("__jump"))
      val jump2 = labels.select(col("id").as("__lid2"), col("label").as("__jump2"))
      // Two CHAINED jumps per round (label ← min over jump(label) AND
      // jump(jump(label))): label distance ×4 per round instead of ×2,
      // so the expensive edge join runs ~half as many times on long
      // chains. The second hop joins the node-sized labels table again —
      // at corpus scale that is far cheaper than another edges round.
      val hop1 = coalesce(col("__jump"), col("label"))
      // The changed-count rides the SAME action as the checkpoint (observe
      // metrics collect during the localCheckpoint job) — one job per
      // round instead of checkpoint + count.
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      val prevBar = labelsBar
      labelsBar = barrier(labels
        .join(nbrMin, Seq("id"), "left")
        .join(jump, col("label") === col("__lid"), "left")
        .join(jump2, hop1 === col("__lid2"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"),
            coalesce(col("nbr_min"), col("label")),
            hop1,
            coalesce(col("__jump2"), hop1)).as("label"))
        .select(col("id"), col("label"),
          (col("label") =!= col("__old")).as("__chg"))
        .observe(obs, sum(col("__chg").cast("long")).as("n_changed")))
      labels = labelsBar.select(col("id"), col("label"))
      changed = obs.get("n_changed").asInstanceOf[Long]
      // the new round's labels are materialized — the previous round's
      // barrier blocks are dead weight from here on; free them now
      // instead of waiting for a driver GC to run the ContextCleaner
      releaseBarrier(prevBar)
      iter += 1
    }
    edges.unpersist()
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    lastCcIterations = iter
    labels.select(col("id"), col("label").as("keeper"))
  }

  /** Round count of the most recent [[connectedComponents]] run on this
    * driver — bench attribution only (the artifact pairs it with the
    * query's measured job count so jobs-per-iteration is readable
    * in-artifact); never part of a query result. */
  @volatile var lastCcIterations: Int = 0

  /** 32-bit SimHash per document: tf-weighted ±1 vote per bit of the md5
    * token hash; bit set where the vote sum is positive. Pure integer
    * arithmetic — deterministic across engines.
    *
    * Output order is UNSPECIFIED: composed operators (simhashPairs)
    * re-shuffle anyway, so an operator-level sort would only insert a
    * useless full range-exchange; callers that need an ordering sort at
    * the query edge (d4 does). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // SimHash is a pure per-document function of the token multiset, and
    // the tf weighting collapses into per-instance ±1 votes (integer
    // addition groups identical addends for free) — so the whole
    // signature is ONE codegen'd expression per row, ZERO shuffles,
    // where the aggregate formulation exploded corpus tokens through two
    // exchanges (explode → groupBy(id, tok) → 32-vote groupBy(id)). The
    // r15 spec pins bit-equality against that formulation, tf weighting
    // included. Empty/null-token docs are filtered to keep the aggregate
    // row set (they produced no vote rows there).
    val toks = TextOps.tokens(col(textCol))
    docs
      .select(col(idCol), toks.as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(col(idCol),
        org.apache.spark.sql.graft.ColumnBridge.column(
          org.apache.spark.sql.graft.SimHash32(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("__toks"))))
          .as("simhash"))
  }

  /** Sub-document (passage-level) exact dedup, CCNet-style: documents are
    * cut into fixed `chunkSize`-token chunks, a chunk is kept iff it is
    * the corpus-wide FIRST occurrence of its text (min doc id, then min
    * chunk index), and each document is reassembled from its surviving
    * chunks. This removes boilerplate repeated ACROSS documents, which
    * whole-document dedup (d1/d3) can never catch.
    *
    * Output per input doc: (doc_id, n_chunks, n_kept, dedup_text).
    *
    * Shape: one groupBy (doc_id, chunk), one MIN-aggregate on chunk TEXT
    * (the dedup key), one groupBy doc_id, one doc_id join against a plain
    * docs-scan projection. No all-pairs comparison anywhere; at 100 TB the
    * chunk-text shuffle is the cost, and it's the same shuffle any exact
    * dedup pays. Skew-immune by construction: the keeper election is a
    * partial-aggregated min, so even a boilerplate chunk repeated 10⁶
    * times ships one row per map task — no window, no single hot
    * partition, no salting needed.
    */
  /** (doc_id, ci, ct): fixed `chunkSize`-token chunks of every doc, built
    * PER ROW (r15). Chunking is a pure function of one document's token
    * array, so the old shape — posexplode every token corpus-wide, then
    * groupBy(doc, ci) re-assembling each chunk through an
    * array_sort(collect_list(struct)) — paid a full token-level shuffle
    * for values a slice of the staged array produces in place. Same
    * values (tokens rejoin in position order, single spaces); same row
    * set (zero-token docs had no token rows, the sentinel start is
    * filtered exactly like chunkWindows'). */
  private def chunkRows(docs: DataFrame, chunkSize: Int): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t != '')").as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__cis",
        expr(s"sequence(0L, greatest(cast(__n - 1 as bigint), 0L) div $chunkSize)"))
      .select(col("doc_id"), col("__toks"), col("__n"),
        explode(col("__cis")).as("ci"))
      .where(col("ci") * chunkSize < col("__n"))
      .select(col("doc_id"), col("ci"),
        array_join(slice(col("__toks"),
          (col("ci") * chunkSize).cast("int") + 1, lit(chunkSize)), " ").as("ct"))

  def chunkDedup(docs: DataFrame, chunkSize: Int = 4): DataFrame = {
    val chunks = chunkRows(docs, chunkSize)
    // Keeper election as a MIN-aggregate, not a window: min(struct(doc_id,
    // ci)) per chunk text is the same "first occurrence" rule as
    // row_number()=1 ordered by (doc_id, ci), but hash aggregation
    // partial-aggregates map-side — the same banner repeated 10⁶ times
    // collapses to ONE row per map task before the shuffle, so a skewed
    // boilerplate chunk can never funnel a whole partition through a
    // single window task. Survivors are the winning (doc_id, ci) rows
    // themselves; no join back to the full chunk set is needed.
    val survivors = chunks.groupBy("ct")
      .agg(min(struct(col("doc_id"), col("ci"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.ci").as("ci"), col("ct"))
    val kept = survivors.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("ci"), col("ct")))),
            _.getField("ct")), " ").as("dedup_text"))
    // Per-doc chunk counts come straight off the docs scan — no second
    // pass over the exploded chunk rows. Docs with zero tokens never had
    // chunk rows, so they stay absent (matching the explode semantics).
    val perDoc = docs.select(col("doc_id"),
      expr(s"cast((size(filter(split(text, ' '), t -> t != '')) " +
        s"+ $chunkSize - 1) div $chunkSize as bigint)").as("n_chunks"))
      .where(col("n_chunks") > 0)
    perDoc.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** Frequency-based boilerplate removal (CCNet/RefinedWeb line-dedup
    * rule, applied at fixed-chunk granularity since this corpus has no
    * line structure): a chunk text occurring in at least `maxDocs`
    * DISTINCT documents is boilerplate (headers, banners, navigation,
    * license blurbs), and EVERY occurrence is dropped — unlike
    * [[chunkDedup]], which keeps the first occurrence. The two are
    * complementary curation passes: chunkDedup de-duplicates content,
    * this strips content that was never document-specific to begin with.
    *
    * Output per doc: (doc_id, n_chunks, n_dropped, clean_text).
    *
    * Shape: one groupBy(ct) with a distinct-doc count (partial-aggregated;
    * the hottest banner collapses map-side), then the chunk rows join the
    * per-ct verdict ON ct — co-partitioned with the aggregate's exchange,
    * so Spark reuses the shuffle rather than re-partitioning — and one
    * groupBy(doc_id) reassembles survivors. No pairs, no windows; the
    * chunk-text shuffle is the whole cost, same class as exact dedup.
    */
  def boilerplateStrip(docs: DataFrame, chunkSize: Int = 4,
                       maxDocs: Int = 2): DataFrame = {
    val chunks = chunkRows(docs, chunkSize)
    val verdicts = chunks.groupBy("ct")
      .agg((countDistinct(col("doc_id")) >= maxDocs).as("boiler"))
    chunks.join(verdicts, Seq("ct"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_dropped"),
        coalesce(array_join(
          transform(
            array_sort(collect_list(
              when(!col("boiler"), struct(col("ci"), col("ct"))))),
            _.getField("ct")), " "), lit("")).as("clean_text"))
  }

  /** Corpus-duplicated n-gram profile — the n-gram-granular cousin of
    * exact substring dedup (Lee et al. 2022): an n-gram is "duplicated"
    * when it occurs in more than one document, and a document's
    * `dup_frac` is the duplicated share of its DISTINCT n-grams. Docs
    * at/above `minFrac` are flagged as boilerplate/templated content.
    * Complements [[chunkDedup]]: chunks measure exact fixed-window
    * repetition, this measures what fraction of a doc's phrasing exists
    * anywhere else in the corpus, independent of alignment.
    *
    * Reference scope: the reference app has no corpus-level text dedup
    * (per-query search only) — this is part of the training-pipeline
    * extension suite alongside d1–d11.
    *
    * Output: (doc_id, n_grams, dup_frac) for flagged docs; docs with
    * fewer than `n` tokens have no grams and never appear.
    *
    * Shape at scale — INVERTED so the gram stream is consumed exactly
    * once, with no join-back: `dup_frac = 1 − unique/total`, where a
    * doc's "unique" grams are those whose corpus occurrence count is 1
    * (and whose sole holder is therefore that doc). One gram-keyed
    * `count + min(doc)` aggregation with full map-side combine (a
    * boilerplate gram repeated 10⁶ times collapses to one row per map
    * task — skew-immune, same election as [[chunkDedup]]), filtered to
    * count==1, re-keyed by the winning doc (≤ one row per UNIQUE gram,
    * aggregating to ≤ one row per doc), then a doc-sized join against
    * per-doc totals computed straight off the docs scan
    * (`size(shingles(...))` — no explode, no shuffle). The heavy explode
    * is evaluated once and never materialized; every post-shuffle
    * dataset is vocabulary- or corpus-row-sized, not gram-stream-sized.
    */
  def duplicatedNgrams(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minFrac: Double): DataFrame = {
    // Stage the token array in its OWN projection (the shingleRows
    // trick): shingles() references its input many times inside a
    // higher-order lambda, where Catalyst neither CSEs nor collapses —
    // passing the raw tokenize tree would re-split the text per
    // element_at (measured 150×: ~5 s instead of ~0.3 s at sf0.1 for
    // the explode alone).
    val staged = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
    // shingles() is array_distinct per doc, so a gram's row count ==
    // number of distinct docs containing it — no countDistinct needed,
    // and when that count is 1, min(doc) IS the unique holder.
    val uniqPerDoc = staged
      .select(col(idCol), explode(TextOps.shingles(col("__toks"), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("nd"), min(col(idCol)).as(idCol))
      .where(col("nd") === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("uniq"))
    // Filter on the CHEAP equivalent predicate (>= n tokens ⟺ >= 1 gram)
    // BEFORE computing the shingle count: `where(n_grams > 0)` would be
    // pushed below the projection with the whole shingle transform
    // substituted inline — the 150× re-evaluation again, this time inside
    // a scan-level Filter.
    val totals = staged.where(size(col("__toks")) >= n)
      .select(col(idCol),
        size(TextOps.shingles(col("__toks"), n)).cast("long").as("n_grams"))
    totals.join(uniqPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        round((col("n_grams") - coalesce(col("uniq"), lit(0L)))
          .cast("double") / col("n_grams"), 6).as("dup_frac"))
      .where(col("dup_frac") >= minFrac)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * the MOSS algorithm): hash every POSITIONAL k-gram, slide a window
    * of `w` consecutive hashes, keep each window's minimum — the selected
    * distinct values are the document's fingerprint set. Winnowing
    * guarantees any shared substring of length >= w + k − 1 tokens
    * yields at least one shared fingerprint, at a ~2/(w+1) sampling
    * rate — the principled fingerprint-density trade, where [[TextOps
    * .fingerprint]] is a single whole-document rolling hash.
    *
    * Output: (id, n_windows, n_fps, fp_digest) — the digest is an
    * XOR fold of the distinct fingerprints (order-free, so it is a
    * stable engine-independent set digest). Docs shorter than
    * k + w − 1 tokens have no full window and are absent.
    *
    * Shape at scale: the ENTIRE computation is per-row array expressions
    * inside one projection chain — no explode, no shuffle, no join; cost
    * is linear in corpus tokens and embarrassingly parallel. Each array
    * stage (tokens → hashes → window minima → distinct) is staged as its
    * own projection: every stage's lambda references its input many
    * times, and an inline tree would be re-evaluated per element (the
    * d12 lesson, pinned in PlanShapeSpec).
    */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, w: Int = 4): DataFrame =
    winnowArrays(docs, idCol, textCol, k, w)
      .select(col(idCol), col("n_windows"),
        size(col("__fps")).cast("long").as("n_fps"),
        expr("aggregate(__fps, cast(0 as bigint), (a, x) -> a ^ x)")
          .as("fp_digest"))

  /** (id, n_windows, __fps sorted-distinct array) — the shared winnowing
    * pipeline behind [[winnowedFingerprints]] and [[winnowingPairs]]. */
  private def winnowArrays(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, w: Int): DataFrame =
    // One codegen'd pass per row (r15): the interpreted transform/slice
    // chain built one md5 per k-gram via concat_ws and COPIED a w-element
    // array per window (array_min(slice(...))), all outside whole-stage
    // codegen. WinnowFingerprints computes the same gram hashes, window
    // minima and sort/distinct in a single expression — bit-equality
    // pinned by SimHashExprSpec. n_windows = (n-k+1)-w+1 = n-(k+w-2).
    docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= k + w - 1)
      .select(col(idCol),
        (size(col("__toks")) - (k + w - 2)).cast("long").as("n_windows"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          org.apache.spark.sql.graft.WinnowFingerprints(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("__toks")),
            k, w)).as("__fps"))

  /** Observed-metrics name for [[winnowingPairs]] bucket truncation —
    * same alarm discipline as [[BucketStatsMetric]], distinct name so
    * both can compose inside one query. */
  val WinnowBucketStatsMetric = "graft_winnow_bucket_stats"

  /** Winnowing near-dup pairs — the MOSS match step: two docs pair when
    * they share at least `minShared` winnowed fingerprints. Inverted-
    * index shape: fingerprints group into buckets (ONE shuffle with the
    * doc lists collected per fingerprint), pairs expand INSIDE each
    * bucket, then one pair-keyed count. Never an all-pairs comparison;
    * bucket fan-out is capped at [[MaxBucketSize]] with the truncation
    * count observable via [[WinnowBucketStatsMetric]] (a corpus-wide
    * boilerplate fingerprint would otherwise expand quadratically — the
    * same disclosure-not-silence rule as the LSH bucket cap).
    */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, w: Int = 4, minShared: Int = 5): DataFrame =
    // Materialization barrier: under the explode, column pruning strips
    // the multi-reference columns that keep winnowArrays' stages apart,
    // and the collapsed single-expression pipeline re-evaluates the
    // k-gram hash array PER WINDOW (O(n²) md5s per doc — measured 280 s
    // instead of ~1 s at sf0.1). The barrier is one fingerprint
    // array per doc — corpus-row-sized, trivially small.
    barrier(winnowArrays(docs, idCol, textCol, k, w)
        .select(col(idCol), col("__fps")))
      .select(col(idCol), explode(col("__fps")).as("fp"))
      .groupBy(col("fp"))
      .agg(array_sort(collect_list(col(idCol))).as("all_ids"))
      .observe(WinnowBucketStatsMetric,
        sum(when(size(col("all_ids")) > MaxBucketSize, 1L).otherwise(0L))
          .as("truncated_buckets"),
        max(size(col("all_ids"))).as("max_bucket_size"))
      .select(slice(col("all_ids"), 1, MaxBucketSize).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)

  /** Benchmark decontamination — flag training documents that share any
    * word n-gram with a held-out evaluation set (the GPT-3 appendix-C /
    * Llama train-test-overlap rule: a training example is contaminated
    * when an eval n-gram appears verbatim in it; the reference's
    * processed-id re-check at `scripts/indexing.py:214-230` is the same
    * "seen set" gate at document granularity).
    *
    * 100 TB shape: the benchmark side is TINY (eval sets are thousands of
    * documents) while the train side is the full corpus — so the corpus
    * never shuffles on grams. The benchmark gram set is sketched into a
    * bloom filter that travels as a plan literal ([[graft.functions
    * .BloomGate]]); the corpus gram stream is pruned scan-side by
    * `might_contain` (no false negatives, so dropping the misses is
    * exact), and only the flagged sliver — |true overlaps| + fpp·|corpus
    * grams| rows — pays the exact confirming join against the real gram
    * set. Result: (idCol, shared_grams) per contaminated train doc,
    * shared_grams = distinct eval n-grams appearing in it.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int,
                    expectedBenchGrams: Long = 1000000L,
                    fpp: Double = 0.01): DataFrame = {
    val benchGrams = bench
      .select(explode(TextOps.shingles(TextOps.tokens(col(textCol)), n))
        .as("gram"))
      .distinct()
    val trainGrams = train.select(col(idCol),
      explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("gram"))
    val candidates = graft.functions.BloomGate
      .build(benchGrams, col("gram"), expectedBenchGrams, fpp) match {
      case None => trainGrams.where(lit(false)) // empty benchmark
      case Some(bloom) =>
        trainGrams.where(graft.functions.BloomGate.mightContain(bloom, col("gram")))
    }
    // shingles() is distinct-per-doc, so the semi-join survivors count
    // is exactly the number of distinct shared grams
    candidates.join(benchGrams, Seq("gram"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Decontamination applied: the training rows with NO benchmark n-gram
    * overlap. The contaminated-id set is a vanishing fraction of the
    * corpus (and bounded by it), so the drop is a broadcast-able anti-join
    * on the id — AQE picks the strategy from the measured size. */
  def decontaminateApply(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int,
                         expectedBenchGrams: Long = 1000000L): DataFrame = {
    val contaminated = decontaminate(train, bench, idCol, textCol, n,
      expectedBenchGrams).select(col(idCol))
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** ExactSubstr-style duplicated-SPAN removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" §4.1 —
    * their suffix-array ExactSubstr, re-expressed as a w-token sliding
    * window): every occurrence of a >= w-token span that appears verbatim
    * anywhere else in the corpus (another document OR another position of
    * the same document) is removed, EXCEPT the corpus-wide first
    * occurrence by (id, start) — one copy of every span survives, unlike
    * [[boilerplateStrip]] (drops all copies) and [[chunkDedup]]
    * (fixed-alignment chunks; misses shifted duplicates). The document
    * keeps its un-duplicated remainder — span granularity is the point:
    * a 1% boilerplate tail no longer costs the whole document.
    *
    * Output per doc: (id, n_tokens, n_removed, clean_text), all docs.
    *
    * Shape at scale: positional w-grams explode once (let-bound token
    * array — the d12 staging rule); the keeper election is ONE
    * gram-keyed aggregation with full map-side combine (count +
    * min(struct(id,start)) — a banner gram repeated 10⁶ times collapses
    * per map task, skew-immune); the join-back keys on gram, reusing the
    * aggregation's exchange; removed starts collapse to <= one row per
    * doc; and span coverage is a per-row array lambda over (starts,
    * positions) — no further shuffle. Cost class = d12's gram shuffle.
    * Coverage check is O(n_tokens·|removed starts|) per doc — bounded by
    * the doc's own window count, never corpus-sized.
    */
  def exactSubstrDedup(docs: DataFrame, idCol: String, textCol: String,
                       w: Int = 8): DataFrame = {
    val staged = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
    // positional w-grams (id, start, gram) — NOT distinct: self-repeats
    // are occurrences too, exactly like the suffix-array formulation
    val gramArr = element_at(transform(array(col("__toks")), t => {
      val grams = transform(
        sequence(lit(0), size(t) - w),
        i => struct(i.cast("long").as("start"),
          concat_ws(" ", (1 to w).map(j => element_at(t, i + j)): _*).as("gram")))
      when(size(t) >= w, grams)
        .otherwise(array().cast("array<struct<start:bigint,gram:string>>"))
    }), 1)
    val occ = staged.select(col(idCol), explode(gramArr).as("g"))
      .select(col(idCol), col("g.start").as("start"), col("g.gram").as("gram"))
    val verdicts = occ.groupBy("gram")
      .agg(count(lit(1)).as("occ_n"),
        min(struct(col(idCol), col("start"))).as("keeper"))
    val removed = occ.join(verdicts, Seq("gram"))
      .where(col("occ_n") > 1 &&
        !(col(idCol) === col(s"keeper.$idCol") && col("start") === col("keeper.start")))
      .groupBy(col(idCol))
      .agg(collect_set(col("start")).as("__starts"))
    staged.join(removed, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        coalesce(col("__starts"), array().cast("array<bigint>")).as("__starts"))
      .withColumn("__kept", when(size(col("__toks")) > 0,
        filter(sequence(lit(0), size(col("__toks")) - 1),
          i => !exists(col("__starts"), s => s <= i && i < s + w)))
        .otherwise(array().cast("array<int>")))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(transform(col("__kept"),
          i => element_at(col("__toks"), i + 1)), " ").as("clean_text"))
      .orderBy(col(idCol))
  }
}
