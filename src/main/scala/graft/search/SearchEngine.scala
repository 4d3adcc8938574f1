package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.tables.Tables

/** Query façade mirroring the reference's API surface (§2.11 Q1–Q9):
  * dense k-NN, BM25, hybrid RRF, exact match with field precedence,
  * parallel fusion, filtered search with oversampling.
  *
  * Execution model: every method returns a declarative DataFrame plan.
  * Dense top-k compiles to scan → codegen'd cosine → TakeOrderedAndProject
  * — embarrassingly parallel, no shuffle except the final k-row reduce,
  * which is exactly the plan that survives a 1000-executor scale-up. The
  * 1-row query vector is always a broadcast, never a driver collect.
  */
object SearchEngine {

  /** The corpus with dense vectors attached. */
  def collection(spark: SparkSession, dir: String): DataFrame =
    Tables.collection(spark, dir)

  /** 1-row DataFrame holding the query vector (a stored embedding, which
    * stands in for the query-encoder output — reference embeds the query
    * string the same way it embeds passages, `scripts/indexing.py:871-882`). */
  def queryVec(spark: SparkSession, dir: String, vecId: Long): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") === vecId)
      .select(col("embedding").as("qvec"))

  /** Driver-side query-vector cache (reference O10: the LRU query-embed
    * cache, size 1000, `app/services/search_service.py:127`). Fetching the
    * tiny query vector once and inlining it as a literal removes a
    * broadcast-build job from every dense query — the plan collapses to
    * scan → codegen cosine → TakeOrderedAndProject, one stage. */
  private val QvecCacheSize = 1000
  private val qvecCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), Array[Float]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), Array[Float]]): Boolean =
          size() > QvecCacheSize
      })
  def queryVecArray(spark: SparkSession, dir: String, vecId: Long): Array[Float] = {
    val key = (dir, vecId)
    val cached = qvecCache.get(key)
    if (cached != null) cached
    else {
      val rows = queryVec(spark, dir, vecId).take(1)
      require(rows.nonEmpty, s"no embedding with vec_id=$vecId under $dir")
      val v = rows.head.getSeq[Float](0).toArray
      qvecCache.put(key, v)
      v
    }
  }
  /** Drop cached query vectors (call after rewriting the embeddings table). */
  def invalidateQueryVecCache(): Unit = qvecCache.clear()

  /** Q5: dense cosine top-k over the embeddings table.
    * Scores rounded to 6dp before ordering so ranks are deterministic. */
  def denseTopK(spark: SparkSession, dir: String, queryVecId: Long, k: Int,
                minScore: Double = -1.0): DataFrame = {
    val qv = typedlit(queryVecArray(spark, dir, queryVecId))
    val scored = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"),
        round(VectorOps.cosineSim(col("embedding"), qv), 6).as("score"))
    // Only emit the threshold when it can filter: a vacuous `score >= -1`
    // otherwise becomes a join condition that evaluates the cosine twice.
    val thresholded =
      if (minScore > -1.0) scored.where(col("score") >= minScore) else scored
    thresholded
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Batched dense top-k: N query vectors through ONE corpus scan. The
    * query table rides as a broadcast (bounded by the batch size, never
    * the corpus), cosine scores every (query, vector) pair off the same
    * scan pipeline, and the per-query cut is a rank filter Spark executes
    * as WindowGroupLimit — partial top-k inside each partition before the
    * per-qid shuffle. This is the amortized serving shape: the
    * job-scheduling floor and the scan are paid once per BATCH, which is
    * how a Spark engine answers the reference's per-query latency at
    * scale (BENCHNOTES "amortized serving" section). Per-qid results are
    * identical to [[denseTopK]]. */
  def denseTopKBatched(spark: SparkSession, dir: String,
                       queryVecIds: Seq[(Long, Long)], k: Int): DataFrame = {
    val ids = queryVecIds.map(_._2).distinct
    val vmap = Tables.embeddings(spark, dir)
      .where(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val missing = ids.filterNot(vmap.contains)
    require(missing.isEmpty, s"no embedding with vec_id in $missing under $dir")
    val queries = spark.createDataFrame(
      queryVecIds.map { case (qid, vecId) => (qid, vmap(vecId)) })
      .toDF("qid", "qvec")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("id").asc)
    Tables.embeddings(spark, dir)
      .crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id").as("id"),
        round(VectorOps.cosineSim(col("embedding"), col("qvec")), 6).as("score"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("qid"), col("id"), col("score"))
  }

  /** Batched Q7 hybrid: N (query vector, term set) pairs through one
    * dense scan + one postings scan + one per-qid RRF — the flagship
    * query's amortized form. Each query is (qid, queryVecId, terms);
    * arms oversample 2× like [[hybrid]], fusion is
    * [[Fusion.rrfBatched]] with k=60. */
  def hybridBatched(spark: SparkSession, dir: String,
                    queries: Seq[(Long, Long, Seq[String])], k: Int): DataFrame = {
    val dense = denseTopKBatched(spark, dir,
      queries.map(q => (q._1, q._2)), k * 2)
    // distinct: the single-query path's isin(terms) dedupes repeated
    // tokens, so the batched join must too or a repeat double-counts
    val termsDf = spark.createDataFrame(
      queries.flatMap { case (qid, _, ts) => ts.distinct.map(t => (qid, t)) })
      .toDF("qid", "term")
    val sparse = graft.index.Bm25Index.topKBatched(
        spark, graft.index.Bm25Index.ensure(spark, dir), "doc_id",
        termsDf, "qid", "term", k * 2, ordered = false)
      .withColumnRenamed("doc_id", "id")
    Fusion.rrfBatched(dense, sparse, "qid", "id", 60, k)
  }

  /** Production batched hybrid — [[hybridBatched]] with the dense arm
    * served from the TRAINED persisted IVF index instead of a full
    * brute-force scan. This is the apples-to-apples serving form against
    * the reference, whose dense arm is HNSW-APPROXIMATE at serving time
    * (`scripts/indexing.py:326-340`): both engines answer the dense arm
    * from a prebuilt approximate index and pay only the probed lists.
    * The exact twin [[hybridBatched]] remains the oracle surface (s4b);
    * this is the bench/throughput path, mirroring how a12 serves dense. */
  def hybridBatchedIvf(spark: SparkSession, dir: String,
                       queries: Seq[(Long, Long, Seq[String])], k: Int,
                       nprobe: Int = 4,
                       index: Option[(DataFrame, DataFrame)] = None)
      : DataFrame = {
    // `index`: a server keeps the (assigned, centroids) pair RAM-resident
    // (persist + pass in — the reference's on_disk=False HNSW equivalent);
    // the None path re-reads the parquet artifact per call.
    val (assigned, centroids) = index.getOrElse {
      val (assignedPath, centroidsPath) =
        graft.index.IvfIndex.ensureTrained(spark, dir, k = 16)
      (spark.read.parquet(assignedPath), spark.read.parquet(centroidsPath))
    }
    // query vectors fetched through the driver-side LRU (the reference's
    // own query-embed cache pattern) — joining the corpus table just to
    // pull |batch| vectors would cost a full scan per request
    val qdf = spark.createDataFrame(
      queries.map(q => (q._1, queryVecArray(spark, dir, q._2))))
      .toDF("qid", "qvec")
    val dense = graft.search.Ann.ivfTopKBatched(
      assigned, centroids, qdf, nprobe, k * 2, ordered = false)
    val termsDf = spark.createDataFrame(
      queries.flatMap { case (qid, _, ts) => ts.distinct.map(t => (qid, t)) })
      .toDF("qid", "term")
    val sparse = graft.index.Bm25Index.topKBatched(
        spark, graft.index.Bm25Index.ensure(spark, dir), "doc_id",
        termsDf, "qid", "term", k * 2, ordered = false)
      .withColumnRenamed("doc_id", "id")
    Fusion.rrfBatched(dense, sparse, "qid", "id", 60, k)
  }

  /** Q6: BM25 top-k over documents — served from the prebuilt inverted
    * index (built once per corpus, like the reference's indexing-time
    * sparse embed): the query touches only its own terms' postings.
    * [[Bm25.topK]] remains as the self-contained/no-index path. */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String], k: Int): DataFrame =
    graft.index.Bm25Index.topK(
        spark, graft.index.Bm25Index.ensure(spark, dir), "doc_id", terms, k)
      .withColumnRenamed("doc_id", "id")

  /** Cursor page of [[bm25TopK]] — `search_after`-style deep pagination
    * (see [[graft.index.Bm25Index.topKAfter]]): the k hits strictly
    * after (afterScore, afterId) in the (score desc, id asc) order. */
  def bm25TopKAfter(spark: SparkSession, dir: String, terms: Seq[String],
                    k: Int, afterScore: Double, afterId: Long): DataFrame =
    graft.index.Bm25Index.topKAfter(
        spark, graft.index.Bm25Index.ensure(spark, dir), "doc_id", terms, k,
        afterScore, afterId)
      .withColumnRenamed("doc_id", "id")

  /** Hit HIGHLIGHTING — the best snippet window per result (Lucene's
    * UnifiedHighlighter surface; the reference renders its hits
    * client-side from the raw description — at an API tier the snippet
    * is computed where the text lives). For each of the query's top-`k`
    * BM25 hits, the `window`-token span containing the MOST query-term
    * occurrences wins (leftmost on ties; trailing spans may be shorter
    * at the doc tail), returned as (id, score, n_hits, snippet).
    *
    * All integer arithmetic — deterministic with no rounding rules, so
    * the whole surface replays in SQL. Cost shape: the hit ids are a
    * k-row collect (request-sized, the same contract as the query
    * terms), their texts a pushed `doc_id IN` point read; the window
    * scan is per-hit-doc token arithmetic — k docs, never the corpus —
    * and the rank shuffle is partitioned by the k hit ids. */
  def snippets(spark: SparkSession, dir: String, terms: Seq[String],
               k: Int, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = bm25TopK(spark, dir, terms, k) // (id, score)
    val ids = hits.select(col("id")).collect().map(_.getLong(0)).toSeq
    if (ids.isEmpty)
      return hits.withColumn("n_hits", lit(0L))
        .withColumn("snippet", lit(""))
    val toks = Tables.documents(spark, dir)
      .where(col("doc_id").isin(ids: _*)) // pushed In(doc_id) point read
      .select(col("doc_id").as("id"),
        graft.functions.TextOps.tokens(col("text")).as("toks"))
    val wSpan = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    val wBest = Window.partitionBy(col("id"))
      .orderBy(col("n_hits").desc, col("pos").asc)
    val best = toks
      .select(col("id"), col("toks"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .withColumn("flag",
        when(col("tok").isin(terms: _*), 1L).otherwise(0L))
      .withColumn("n_hits", sum(col("flag")).over(wSpan))
      .withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .select(col("id"), col("n_hits").cast("long").as("n_hits"),
        array_join(slice(col("toks"), col("pos") + 1, lit(window)), " ")
          .as("snippet"))
    hits.join(best, Seq("id"))
      .select(col("id"), col("score"), col("n_hits"), col("snippet"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** CASCADE retrieval — the L1/L2 retrieve-then-rerank every production
    * search stack runs (BM25 recalls cheap and wide, the dense model
    * re-scores the shortlist): the sparse arm's top-`l1` candidates are
    * EXACTLY re-scored by cosine against the query vector and the top-`k`
    * re-ranked survivors serve. The vector work is candidate-sized — the
    * entire reason cascades exist — and the candidate ids (a request-
    * sized collect, like the query terms) push `vec_id IN` into the
    * embeddings scan, so the L2 pass is a point read + codegen cosine,
    * never a corpus pass. */
  def cascadeRerank(spark: SparkSession, dir: String, terms: Seq[String],
                    qvecId: Long, l1: Int, k: Int): DataFrame = {
    val cand = bm25TopK(spark, dir, terms, l1)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.where(col("vec_id") === qvecId)
      .select(col("embedding").as("qvec"))
    emb.where(col("vec_id").isin(cand: _*)) // pushed In(vec_id) point read
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("id"),
        round(VectorOps.cosineSim(col("embedding"), col("qvec")), 6)
          .as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** V1/V2 text search over the prebuilt TF-IDF index (query embeds only
    * the query string; doc vectors + idf are indexing-time artifacts). */
  def tfidfSearch(spark: SparkSession, dir: String, query: String, k: Int): DataFrame =
    graft.index.TfIdfIndex.searchText(
        spark, graft.index.TfIdfIndex.ensure(spark, dir), "doc_id", query, k)
      .withColumnRenamed("doc_id", "id")

  /** Batched [[tfidfSearch]]: N text queries, one vectors-index scan. */
  def tfidfSearchBatched(spark: SparkSession, dir: String,
                         queries: Seq[(Long, String)], k: Int): DataFrame =
    graft.index.TfIdfIndex.searchTextBatched(
        spark, graft.index.TfIdfIndex.ensure(spark, dir), "doc_id", queries, k)
      .withColumnRenamed("doc_id", "id")

  /** Batched TEXT hybrid — the serving-façade twin of [[hybridBatched]]:
    * N query strings, each embedded driver-side for the TF-IDF dense arm
    * and tokenized for the BM25 sparse arm, both arms batched through one
    * index scan each, fused per-qid by [[Fusion.rrfBatched]]. Per-qid
    * results equal the single-query `Api.search(..., "hybrid", k)` path
    * (ServeApiSpec pins it). */
  def textHybridBatched(spark: SparkSession, dir: String,
                        queries: Seq[(Long, String)], k: Int): DataFrame = {
    val dense = tfidfSearchBatched(spark, dir, queries, k * 2)
    // distinct per qid: the single-query arm's isin(terms) dedupes
    // repeated tokens, so the batched join must too
    val termsDf = spark.createDataFrame(
      queries.flatMap { case (qid, q) =>
        graft.index.TfIdfIndex.tokensOf(q).distinct.map(t => (qid, t)) })
      .toDF("qid", "term")
    val sparse = graft.index.Bm25Index.topKBatched(
        spark, graft.index.Bm25Index.ensure(spark, dir), "doc_id",
        termsDf, "qid", "term", k * 2, ordered = false)
      .withColumnRenamed("doc_id", "id")
    Fusion.rrfBatched(dense, sparse, "qid", "id", 60, k)
  }

  /** Q7: hybrid — dense arm ∥ sparse arm (each oversampled 2×, like the
    * reference's `limit*2` at `scripts/indexing.py:933,943`) → RRF(k=60). */
  def hybrid(spark: SparkSession, dir: String, queryVecId: Long,
             terms: Seq[String], k: Int): DataFrame = {
    val dense = denseTopK(spark, dir, queryVecId, k * 2)
    val sparse = bm25TopK(spark, dir, terms, k * 2)
    Fusion.rrf(dense, sparse, "id", 60, k)
  }

  /** P1/P2 + O11: exact keyword match with field precedence, served from
    * the [[graft.index.KeyIndex]] normalized-key layout. The reference
    * normalizes only the QUERY and matches stored values exactly against
    * its keyword payload indexes (`app/services/search_service.py:214`,
    * `scripts/indexing.py:383-443`); here the stored side carries
    * ingest-time-normalized key columns so the predicate is a bare
    * `col === lit` that reaches the parquet scan — `PushedFilters:
    * [EqualTo(source_norm, Q)]`, pruned further by the sort's row-group
    * min/max stats and the per-key bloom filters (`PlanShapeSpec` pins
    * this). Field precedence keeps the reference's early exit
    * (`search_service.py:243-245`): the secondary field is consulted only
    * when the primary field has no hits — gated by a broadcast 1-row
    * count, not a driver round-trip. */
  def exactMatch(spark: SparkSession, dir: String, query: String, k: Int): DataFrame = {
    val docs = graft.index.KeyIndex.read(spark, dir)
    val q = lit(graft.index.KeyIndex.normalize(query))
    val primary = docs.where(col("source_norm") === q)
      .select(col("doc_id").as("id"), lit(1.0).as("score"),
        lit("exact").as("search_type"))
    val secondary = docs.where(col("lang_norm") === q)
      .select(col("doc_id").as("id"), lit(0.9).as("score"),
        lit("exact_secondary").as("search_type"))
    val hasPrimary = primary.agg(count(lit(1)).as("n_primary"))
    val gatedSecondary = secondary
      .crossJoin(broadcast(hasPrimary))
      .where(col("n_primary") === 0)
      .drop("n_primary")
    primary.unionByName(gatedSecondary)
      .orderBy(col("score").desc, col("id").asc)
      .limit(math.min(k, 10)) // reference caps exact scroll at 10 (T5)
  }

  /** Q2: parallel fusion of exact ∪ vector arms (J1). The vector arm
    * carries the reference's 0.4 score floor inside fusion
    * (`app/services/search_service.py:283`). */
  def searchFusion(spark: SparkSession, dir: String, query: String,
                   queryVecId: Long, k: Int): DataFrame = {
    val exact = exactMatch(spark, dir, query, k)
    val vector = denseTopK(spark, dir, queryVecId, k * 2, minScore = 0.4)
      .withColumn("search_type", lit("vector"))
    Fusion.simple(Seq(exact, vector), "id", k)
  }

  /** Q3: filtered search with the reference's oversample-then-trim
    * semantics (T4: fetch 3×k, post-filter on the payload field, head k —
    * `app/services/search_service.py:413-423`). */
  def filteredSearch(spark: SparkSession, dir: String, queryVecId: Long,
                     filterField: String, filterValue: String, k: Int): DataFrame =
    denseTopK(spark, dir, queryVecId, k * 3)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("id"), col(filterField)), Seq("id"))
      .where(col(filterField) === filterValue)
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)

  /** J3/Q-linear: α-weighted blend of normalized dense + sparse arms. */
  def linearFusion(spark: SparkSession, dir: String, queryVecId: Long,
                   terms: Seq[String], alpha: Double, k: Int): DataFrame = {
    val dense = denseTopK(spark, dir, queryVecId, k * 2)
    val sparse = bm25TopK(spark, dir, terms, k * 2)
    Fusion.linear(dense, sparse, "id", alpha, k)
  }

  /** One-shot tfidf-graph serving frames (vectors, edges, coarse) —
    * RAM-resident via [[ServingCache]] (the artifacts are build-once
    * immutable, so the clock is a constant; cached batches keep the
    * `_srt` layouts' sortedness, so per-batch min/max stats prune the
    * walk's `IN` lookups like the parquet row groups did). */
  private def tfidfGraphServing(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.index.TfIdfGraphIndex
    val Seq(v, e, c) = ServingCache.frames(s"tfidfgraph:$dir", ()) {
      Seq(TfIdfGraphIndex.vectors(spark, dir),
        TfIdfGraphIndex.edges(spark, dir),
        TfIdfGraphIndex.coarse(spark, dir))
    }
    (v, e, c)
  }

  /** Entry layer for the one-shot graph routes: the mod-16 coarse
    * artifact by default; the sparsest tfidf ladder rung with enough
    * candidates when the operator set [[graft.index.GraphLadder
    * .servingMinRows]] — the corpus-INDEPENDENT entry scan for corpora
    * where even 1/16 is too much I/O per query. */
  private def graphEntryLayer(spark: SparkSession, dir: String,
                              coarse: DataFrame): DataFrame =
    graft.index.GraphLadder.servingMinRows match {
      case Some(m) =>
        // cached like the other serving frames (the rung is a build-once
        // artifact — invalidation is its only staleness signal)
        ServingCache.frames(s"tfidfladder:$dir:$m", ()) {
          Seq(graft.index.GraphLadder.tfidfLevel(spark, dir, m)._2)
        }.head
      case None => coarse
    }

  /** Q8 `mode=graph`: a TEXT query served by the walk over the
    * tfidf-space kNN graph artifact — the reference's actual serving
    * structure (HNSW entry descent + layer-0 walk,
    * `scripts/indexing.py:326-340`) reachable from a query string. The
    * query embeds driver-side into the graph's own space
    * ([[graft.index.TfIdfGraphIndex.queryVec]]), the coarse layer picks
    * entry points, and per-hop work is O(beam·k) against the src-sorted
    * edge artifact — corpus-size-independent, unlike the dense tfidf
    * scan. Output (id, score), the same shape as every other mode. */
  def graphSearch(spark: SparkSession, dir: String, query: String, k: Int): DataFrame = {
    import graft.index.TfIdfGraphIndex
    val (vecs, edges, coarse) = tfidfGraphServing(spark, dir)
    val qv = TfIdfGraphIndex.queryVec(spark, dir, query)
    // entries from the PREBUILT coarse layer — a 1/16 scan as I/O (the
    // inline pmod form reads everything and filters; hierEntriesFrom) —
    // or the bounded ladder rung when the operator opted in
    val entryIds = Ann.hierEntriesFrom(
        graphEntryLayer(spark, dir, coarse), qv, 3)
      .collect().map(_.getLong(0)).toSeq
    // seek form (graphTopKSeek ≡ graphTopK, IndexSpec-pinned): per-hop
    // literal-IN point lookups against the _srt artifacts instead of the
    // one-plan walk's per-hop corpus scans — O(beam·k) row groups per hop
    // at any corpus size, the a27 serving pattern (batch route uses the
    // one-plan batched walk, where the scans amortize over the batch)
    Ann.graphTopKSeek(edges, vecs, qv, entryIds, beam = 8, hops = 2, k)
  }

  /** [[graphSearch]] over the incrementally-GROWN text-space graph
    * ([[graft.index.TfIdfGraphIndex.ensureGrown]] /
    * [[graft.streaming.DeltaStream.textGraphIngest]]) — the freshness
    * form of `mode=graph`: the walk reads the merged committed segments,
    * so a document is searchable one trigger interval after ingest, no
    * rebuild. Same serving shape as the one-shot route: entries from the
    * per-segment coarse artifacts (1/16 of the corpus as I/O), then the
    * seek walk's pushed `src IN` / `vec_id IN` lookups against the
    * `_srt`-sorted edge and vector segments — O(beam·k) row groups per
    * hop at any corpus size and any segment count. Value-identical to a
    * one-shot rebuild's walk (IncrementalKnn exactness; the s28 oracle
    * applies verbatim as `s28b_graph_grown`). */
  def graphSearchGrown(spark: SparkSession, dir: String, query: String,
                       k: Int): DataFrame = {
    import graft.index.TfIdfGraphIndex
    val root = TfIdfGraphIndex.ensureGrown(spark, dir)
    // ledger + segment list resolve ONCE per mutation of the
    // root ([[GrownServing]]) — the walk's per-hop lookups hit the
    // persisted merged frames instead of re-running the whole
    // segment-union + tombstone subtree every hop
    val st = GrownServing.of(spark, root, 5)
    val qv = TfIdfGraphIndex.queryVec(spark, dir, query)
    val entryIds = Ann.hierEntriesFrom(st.coarse, qv, 3)
      .collect().map(_.getLong(0)).toSeq
    Ann.graphTopKSeek(st.edges, st.vectors, qv, entryIds,
      beam = 8, hops = 2, k)
  }

  /** [[graphSearchGrown]] with the a26 post-filter semantics (walk
    * oversampled 3×, keep payload-field survivors, trim to k) — the
    * grown-root twin of [[graphSearchFiltered]], so `mode=graph&graph=
    * grown` with a filter serves the MAINTAINED root instead of silently
    * falling back to the one-shot build (r10 ADVICE). */
  def graphSearchGrownFiltered(spark: SparkSession, dir: String,
                               query: String, filterField: String,
                               filterValue: String, k: Int): DataFrame =
    graphSearchGrown(spark, dir, query, k * 3)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("id"), col(filterField)), Seq("id"))
      .where(col(filterField) === filterValue)
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)

  /** Batched [[graphSearch]]: N text queries, one batched walk — each
    * embeds driver-side, one coarse scan selects every query's entry
    * points, and each hop is a batch-wide POINT SEEK against the
    * src-sorted artifacts ([[Ann.graphTopKSeekBatched]] — r14: the
    * one-plan walk's per-hop full scans made per-query cost grow ×2.76
    * at ×10 corpus; the seek walk's per-hop I/O is batch-bounded at any
    * corpus size). Per-qid results ≡ the single-query [[graphSearch]]
    * (ServeApiSpec pins it through `/api/batch-search`; IndexSpec pins
    * seek-batched ≡ one-plan-batched); job floor paid per batch. */
  def graphSearchBatched(spark: SparkSession, dir: String,
                         queries: Seq[(Long, String)], k: Int): DataFrame = {
    import graft.index.TfIdfGraphIndex
    val (vecs, edges, coarse) = tfidfGraphServing(spark, dir)
    val qdf = TfIdfGraphIndex.queryVecs(spark, dir, queries)
    Ann.graphTopKSeekBatched(edges, vecs, qdf,
      Ann.hierEntriesBatchedFrom(graphEntryLayer(spark, dir, coarse), qdf, 3),
      beam = 8, hops = 2, k)
  }

  /** Batched [[graphSearchGrown]]: N text queries in ONE plan over the
    * incrementally-grown root's merged segments — the throughput form of
    * the freshness path (same artifacts, the per-hop segment scans
    * amortize across the batch like the one-shot batched route). Per-qid
    * results ≡ the single-query grown walk family (ServeApiSpec pins the
    * route). */
  def graphSearchGrownBatched(spark: SparkSession, dir: String,
                              queries: Seq[(Long, String)],
                              k: Int): DataFrame = {
    import graft.index.TfIdfGraphIndex
    val root = TfIdfGraphIndex.ensureGrown(spark, dir)
    val st = GrownServing.of(spark, root, 5) // resolved once per mutation
    val qdf = TfIdfGraphIndex.queryVecs(spark, dir, queries)
    Ann.graphTopKSeekBatched(st.edges, st.vectors, qdf,
      Ann.hierEntriesBatchedFrom(st.coarse, qdf, 3),
      beam = 8, hops = 2, k)
  }

  /** [[graphSearch]] with the a26 post-filter: walk oversampled 3× (the
    * reference's post-filter semantics, `search_service.py:413-423`),
    * keep survivors whose payload field matches, trim to k. */
  def graphSearchFiltered(spark: SparkSession, dir: String, query: String,
                          filterField: String, filterValue: String,
                          k: Int): DataFrame =
    graphSearch(spark, dir, query, k * 3)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("id"), col(filterField)), Seq("id"))
      .where(col(filterField) === filterValue)
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)

  /** Filtered-ANN selectivity ROUTER — nothing before this picked
    * between the two filtered-ANN strategies the engine carries:
    *
    *   - PRE-FILTER IVF (a14): restrict the persisted assignment to the
    *     allowed ids, then probe — exact over the filtered subset. Right
    *     when the filter passes a small fraction: the probed lists are
    *     allowed-set-sized, and a graph walk would waste most of its
    *     beam on filtered-out nodes (or strand in a blocked region).
    *   - POST-FILTER WALK (a26, the reference's own semantics,
    *     `search_service.py:413-423`): walk the corpus graph oversampled
    *     3×, keep survivors. Right when most of the corpus passes:
    *     per-hop work stays O(beam·k) and survivors are plentiful,
    *     while the pre-filter side would rebuild a corpus-sized join.
    *
    * The probe reads the PREBUILT per-field value-count artifact
    * ([[graft.index.FieldStats]] — one groupBy per field at index-build
    * time, a point lookup per query): at 100 TB the selectivity answer
    * is a catalog stats read, never a corpus scan. Unprofiled fields
    * fall back to the one-aggregate scan probe (column-pruned), so
    * stats are an accelerator, not a correctness dependency. Returns
    * (route, plan); crossover at `passFraction <= crossover` →
    * pre-filter. Each side is value-identical to calling its strategy
    * directly (IndexSpec pins both sides of the crossover, with the
    * artifact probe). */
  def filteredAnn(spark: SparkSession, dir: String, queryVecId: Long,
                  filterField: String, filterValue: String, k: Int,
                  crossover: Double = 0.5): (String, DataFrame) = {
    val docs = Tables.documents(spark, dir)
    val pass = graft.index.FieldStats
      .passFraction(spark, dir, filterField, filterValue)
      .getOrElse {
        val probe = docs.agg(
          count(lit(1)).as("n"),
          count(when(col(filterField) === filterValue, 1)).as("m")).head()
        probe.getLong(1).toDouble / math.max(probe.getLong(0), 1L)
      }
    val qv = queryVec(spark, dir, queryVecId)
    val allowed = docs.where(col(filterField) === filterValue)
      .select(col("doc_id").as("vec_id"))
    if (pass <= crossover) {
      val info = graft.index.IvfIndex.ensure(spark, dir)
      val assigned = spark.read.parquet(info.assignedPath)
        .join(allowed, Seq("vec_id"))
      ("prefilter_ivf", Ann.ivfTopKAssigned(assigned,
        spark.read.parquet(info.centroidsPath), qv, 3, k))
    } else {
      // seek form of the walk (graphTopKSeek ≡ graphTopK, IndexSpec-pinned):
      // per-hop point lookups against the _srt artifact instead of the
      // one-plan walk's per-hop corpus scans — the serving-latency form
      // a router sits in front of (5.6 s → sub-second at sf0.1). The
      // immutable artifact frames serve RAM-resident ([[ServingCache]]).
      val emb = Tables.embeddings(spark, dir)
      val Seq(edges, coarse) = ServingCache.frames(s"knngraph:$dir:3:5", ()) {
        Seq(graft.index.KnnGraphIndex.edges(spark, dir, 3, 5),
          graft.index.KnnGraphIndex.coarse(spark, dir, 3, 5))
      }
      val entryIds = Ann.hierEntriesFrom(coarse, qv, 3)
        .collect().map(_.getLong(0)).toSeq
      val walked = Ann.graphTopKSeek(edges, emb, qv, entryIds,
        beam = 8, hops = 3, k = k * 3)
      ("postfilter_graph", walked
        .join(allowed.withColumnRenamed("vec_id", "id"), Seq("id"))
        .orderBy(col("score").desc, col("id").asc).limit(k))
    }
  }

  /** P6/F6 result-shape projection: map the hit list to the reference's
    * API payload shape with display rounding
    * (`app/services/search_service.py:426-437` — `round(score, 3)`). */
  def resultShape(spark: SparkSession, dir: String, hits: DataFrame): DataFrame =
    hits.join(Tables.documents(spark, dir)
        .select(col("doc_id").as("id"), col("text"), col("lang"), col("source"),
          col("n_chars")), Seq("id"))
      .select(col("source").as("image"), col("id"), col("text"),
        col("lang").as("mfr_code"), col("n_chars").as("price"),
        round(col("score"), 3).as("score"))
      .orderBy(col("score").desc, col("id").asc)

  /** F12/F14/F15 display projection over [[resultShape]]: truncated text,
    * absolute image URL, score quality label — the reference UI's result
    * card fields (`search_ui/search.py:108-126,172-202`) as columns. */
  def displayShape(spark: SparkSession, dir: String, hits: DataFrame,
                   urlBase: String = "http://img.example.com",
                   textLen: Int = 40): DataFrame = {
    import graft.functions.DisplayOps
    resultShape(spark, dir, hits)
      .select(col("id"),
        DisplayOps.truncateEllipsis(col("text"), textLen).as("text_display"),
        DisplayOps.prefixUrl(col("image"), urlBase).as("image_url"),
        col("score"),
        DisplayOps.scoreLabel(col("score")).as("score_label"))
      .orderBy(col("score").desc, col("id").asc)
  }

  /** Q10 `/api/search/compare`: run the retrieval modes side by side and
    * report result counts + best score per mode (timings stay in Stats'
    * EWMA — they are not data). */
  def compareModes(spark: SparkSession, dir: String, queryVecId: Long,
                   terms: Seq[String], k: Int): DataFrame = {
    def summarize(name: String, df: DataFrame) =
      df.agg(lit(name).as("method"), count(lit(1)).as("n_results"),
        round(max(col("score")), 6).as("top_score"))
    summarize("dense", denseTopK(spark, dir, queryVecId, k))
      .unionByName(summarize("bm25", bm25TopK(spark, dir, terms, k)))
      .unionByName(summarize("hybrid", hybrid(spark, dir, queryVecId, terms, k)))
      .orderBy(col("method"))
  }
}
