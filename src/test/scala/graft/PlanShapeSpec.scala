package graft

import graft.search.SearchEngine

/** Locks in the perf-critical physical-plan shapes (docs/PLANS.md): a
  * regression that reintroduces a shuffle or a broadcast-build job into
  * the dense path should fail loudly, not just run slower. */
class PlanShapeSpec extends SparkSpec {

  test("dense top-k is a single stage: no exchange, codegen cosine, TakeOrdered") {
    val plan = SearchEngine.denseTopK(spark, Sf0001, 0, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("cosine_sim"), plan)
    assert(!plan.contains("Exchange"), s"dense path must not shuffle:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"query vector must be a literal, not a broadcast:\n$plan")
  }

  test("bm25 pushes its term list into the postings-index scan") {
    val plan = SearchEngine.bm25TopK(spark, Sf0001, Seq("spark", "join"), 10)
      .queryExecution.executedPlan.toString
    // the inverted-index seek: a pushed In(term, ...) on the postings scan
    assert(plan.contains("PushedFilters: [In(term"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("bm25 maxscore: candidate join broadcasts, postings scans keep the pushed term seek") {
    val idx = graft.index.Bm25Index.ensure(spark, Sf0001)
    val plan = graft.index.Bm25Index
      .topKMaxScore(spark, idx, "doc_id", Seq("dup", "the", "a"), 10)
      .queryExecution.executedPlan.toString
    // the full-scoring pass: pushed In(term) seek on postings, essential
    // candidates BROADCAST onto it (candidate-sized, never a corpus
    // shuffle), partial-agg sum, TakeOrdered — the θ/UB probes behind it
    // are k-row / |terms|-row point reads
    assert(plan.contains("PushedFilters: [In(term"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"maxscore candidate join must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("chunk retrieval from the prebuilt index is a postings seek, not a corpus re-chunk") {
    val idx = graft.index.ChunkIndex.ensure(spark, Sf0001)
    val plan = graft.index.ChunkIndex.topK(spark, idx, Seq("merge", "vector"), 12)
      .queryExecution.executedPlan.toString
    // pushed In(term, ...) on the chunk postings; no Generate means the
    // query never re-runs the chunking explode
    assert(plan.contains("PushedFilters: [In(term"), plan)
    assert(!plan.contains("Generate"), s"query must not re-chunk the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("dense passage retrieval is a bucket seek over prebuilt chunk vectors") {
    val idx = graft.index.ChunkIndex.ensureDense(spark, Sf0001)
    val plan = graft.index.ChunkIndex.denseTopK(spark, idx, "group query batch", 10)
      .queryExecution.executedPlan.toString
    // query buckets computed driver-side -> pushed In(bucket, ...); no
    // Generate (no re-chunk), no join (weights applied via literal map)
    assert(plan.contains("PushedFilters: [In(bucket"), plan)
    assert(!plan.contains("Generate"), s"query must not re-chunk the corpus:\n$plan")
    assert(!plan.contains("Join"), s"query side must be join-free:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("hybrid passage retrieval touches only the two prebuilt indexes") {
    val bm25 = graft.index.ChunkIndex.ensure(spark, Sf0001)
    val dense = graft.index.ChunkIndex.ensureDense(spark, Sf0001)
    val plan = graft.index.ChunkIndex
      .hybridTopK(spark, bm25, dense, "scan merge stream", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"fused query must not re-chunk:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"fused query must not scan the raw corpus:\n$plan")
  }

  test("decontamination: gram stream is bloom-pruned at the scan, confirm join broadcasts") {
    import org.apache.spark.sql.functions._
    val all = graft.tables.Tables.documents(spark, Sf0001)
    val plan = graft.dedup.Dedup.decontaminate(
      all.where(pmod(col("doc_id"), lit(97)) =!= 0),
      all.where(pmod(col("doc_id"), lit(97)) === 0),
      "doc_id", "text", 4, 1000L)
      .queryExecution.executedPlan.toString
    // the corpus gram stream meets the sketch literal right above its
    // scan — non-candidates never shuffle
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"confirm join over the bloom-flagged sliver should broadcast:\n$plan")
  }

  test("phrase search: postings seek proposes, broadcast confirm adds no shuffle") {
    val idx = graft.index.Bm25Index.ensure(spark, Sf0001)
    val plan = graft.index.Bm25Index.phraseTopK(
        spark, idx, graft.tables.Tables.documents(spark, Sf0001),
        "doc_id", "text", Seq("big", "table"), 10)
      .queryExecution.executedPlan.toString
    // candidates come from the pushed posting-list seek...
    assert(plan.contains("PushedFilters: [In(term"), plan)
    // ...and reach the adjacency confirm as a broadcast, never a shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("filtered IVF: payload predicate is pushed to the documents scan, never post-applied") {
    import org.apache.spark.sql.functions._
    val emb = graft.tables.Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qv = emb.where(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val allowed = graft.tables.Tables.documents(spark, Sf0001)
      .where(col("source") === "src3")
      .select(col("doc_id").as("vec_id"))
    val plan = graft.search.Ann.ivfTopKAssigned(
        graft.search.Ann.ivfAssign(emb, centroids).join(allowed, Seq("vec_id")),
        centroids, qv, 3, 10)
      .queryExecution.executedPlan.toString
    // the pre-filter rides the documents parquet scan as a pushed equality
    assert(plan.contains("EqualTo(source,src3)"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("bm25 direct (no-index) path still prunes to query terms before the first shuffle") {
    val plan = graft.search.Bm25
      .topK(graft.tables.Tables.documents(spark, Sf0001), "doc_id", "text",
        Seq("spark", "join"), 10)
      .queryExecution.executedPlan.toString
    assert(plan.indexOf(" IN (spark,join)") > 0, plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("exact match pushes NON-EMPTY equality predicates into both key-index scans") {
    val plan = SearchEngine.exactMatch(spark, Sf0001, "src7", 10)
      .queryExecution.executedPlan.toString
    // bare equality on the ingest-normalized key columns reaches parquet —
    // this is what lets row-group min/max + bloom filters prune at scale.
    assert(plan.contains("EqualTo(source_norm,SRC7)"), plan)
    assert(plan.contains("EqualTo(lang_norm,SRC7)"), plan)
    assert(!plan.contains("PushedFilters: []"),
      s"every scan in the exact-match plan must carry pushed filters:\n$plan")
  }

  test("tfidf search pushes its query buckets into the vectors-index scan") {
    val plan = SearchEngine.tfidfSearch(spark, Sf0001, "spark join", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(bucket"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("column pruning reaches the scans: minimal ReadSchema on the hot paths") {
    // dense: only (vec_id, embedding) — reading label/meta would be wasted I/O
    val dense = SearchEngine.denseTopK(spark, Sf0001, 0, 10)
      .queryExecution.executedPlan.toString
    assert(dense.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), dense)
    // bm25 indexed: only (term, doc_id, w) — dl/tf are build-time diagnostics
    val bm25 = SearchEngine.bm25TopK(spark, Sf0001, Seq("spark"), 10)
      .queryExecution.executedPlan.toString
    assert(bm25.contains("ReadSchema: struct<term:string,doc_id:bigint,w:double>"), bm25)
  }

  test("ivf rewrite: ORDER BY cosine LIMIT k is served from the index; threshold and opt-in guard it") {
    import org.apache.spark.sql.functions._
    import graft.index.IvfIndex

    val info = IvfIndex.ensure(spark, Sf0001) // threshold 0: always rewrite
    IvfIndex.enable(spark)
    val qv = typedlit(SearchEngine.queryVecArray(spark, Sf0001, 0))
    def bruteShaped(src: org.apache.spark.sql.DataFrame) = src
      .select(col("vec_id").as("id"),
        round(graft.functions.VectorOps.cosineSim(col("embedding"), qv), 6).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(10)

    // 1. opt-in scan, registered, above threshold -> physical plan reads
    //    the persisted assignment, not the raw embeddings
    val rewritten = bruteShaped(IvfIndex.readRewritable(spark, Sf0001))
    val roots = scanRoots(rewritten)
    assert(roots.exists(_.endsWith("ivf/assigned")), roots)

    //    and the result equals the inline IVF computation, column-exact
    val emb = graft.tables.Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qdf = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val expected = graft.search.Ann.ivfTopK(emb, centroids, qdf, 3, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = rewritten.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected && got.nonEmpty)

    // 2. un-tagged scan (the exact path) is never rewritten
    val exactRoots = scanRoots(bruteShaped(emb))
    assert(!exactRoots.exists(_.contains("ivf/assigned")), exactRoots)
    assert(exactRoots.exists(_.endsWith("embeddings.parquet")), exactRoots)

    // 3. below full_scan_threshold the exact scan is kept (Qdrant's
    //    full_scan_threshold trade: brute force wins on small relations)
    IvfIndex.register(Sf0001, info.copy(fullScanThresholdBytes = Long.MaxValue))
    try {
      val small = scanRoots(bruteShaped(IvfIndex.readRewritable(spark, Sf0001)))
      assert(!small.exists(_.contains("ivf/assigned")), small)
      assert(small.exists(_.endsWith("embeddings.parquet")), small)
    } finally IvfIndex.register(Sf0001, info)
  }

  test("batched ANN: probes broadcast into one assignment pass, partial window group limit") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    // persisted-assignment serving shape: assignment is a plain table
    val assigned = graft.search.Ann.ivfAssign(emb, centroids).localCheckpoint()
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = graft.search.Ann
      .ivfTopKBatched(assigned, centroids, queries, 3, 5)
      .queryExecution.executedPlan.toString
    // per-query top-k cuts BEFORE the qid shuffle
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
    // the probed (qid, cid, qvec) set broadcasts — the assignment is read once
    assert(plan.contains("BroadcastHashJoin [cid"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("incremental ivf: every segment scan prunes to probed cid partition dirs") {
    import org.apache.spark.sql.functions._
    val root = graft.index.IncrementalIvf.ensure(spark, Sf0001)
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val qv = emb.where(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    val plan = graft.index.IncrementalIvf.topK(spark, root, qv, 3, 10)
      .queryExecution.executedPlan.toString
    // probe join keys on the RAW partition column of both segment scans
    // (the explicit segment schema prevents an int-inference cast that
    // would block pruning), and dynamic partition pruning feeds the
    // probe set into the scans' PartitionFilters — only probed list
    // dirs are read
    assert(plan.contains("BroadcastHashJoin [cid"), plan)
    assert(!plan.contains("cast(cid"), plan)
    assert(plan.contains("dynamicpruning"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both committed segments appear as cid-partitioned scans (the union)
    val segScans = "PartitionFilters".r.findAllIn(plan).size
    assert(segScans >= 2, s"expected >=2 partitioned segment scans:\n$plan")
  }

  test("batched bm25: pushed term union, broadcast query table, partial window group limit") {
    val idx = graft.index.Bm25Index.ensure(spark, Sf0001)
    val qs = spark.createDataFrame(Seq(
      (0L, "data"), (0L, "query"), (1L, "stream"))).toDF("qid", "term")
    val plan = graft.index.Bm25Index
      .topKBatched(spark, idx, "doc_id", qs, "qid", "term", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), plan)
    // per-query top-k cuts BEFORE the final qid sort
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("batched hybrid: query batch broadcasts over one corpus scan, per-qid partial top-k") {
    val plan = graft.search.SearchEngine
      .hybridBatched(spark, Sf0001, Seq(
        (0L, 0L, Seq("data", "query")), (1L, 1L, Seq("stream", "window"))), 5)
      .queryExecution.executedPlan.toString
    // the query table rides as a broadcast on both arms (batch-sized,
    // never corpus-sized); the corpus scans stay on the probe side
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    // every rank/cut window partitions by qid → partial WindowGroupLimit
    // below the per-qid shuffle, no global sort anywhere pre-limit
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bloom gate: clean arm is a scan-side might_contain filter, confirm arm an anti-join") {
    import org.apache.spark.sql.functions._
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
    val blocklist = corpus.where(col("source") === "src3").select(col("text"))
    val plan = graft.functions.BloomGate
      .blocklistDrop(corpus, col("text"), blocklist, col("text"), 1000L)
      .queryExecution.executedPlan.toString
    // clean arm: the sketch literal probes right at the filter, no join
    assert(plan.contains("NOT might_contain"), plan)
    // flagged sliver: exact confirming anti-join
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"confirm join over the sliver should broadcast at this scale:\n$plan")
  }

  test("corpus-curation plans: partitioned shuffles and broadcast vocab joins, never cartesian") {
    val docs = graft.tables.Tables.documents(spark, Sf0001)

    // t12: token/bigram aggs shuffle on keys; the bigram window is
    // partitioned by doc_id (never a single-partition global window)
    val rep = graft.functions.CorpusStats.repetitionMetrics(docs)
      .queryExecution.executedPlan.toString
    assert(!rep.contains("CartesianProduct"), rep)
    assert(rep.contains("hashpartitioning(doc_id"), rep)
    assert(!rep.contains("Exchange SinglePartition"),
      s"repetition metrics must not funnel through one partition:\n$rep")

    // t13: the vocabulary side joins BROADCAST — the corpus is never
    // shuffled against the (tiny) vocab — and the corpus parquet is
    // scanned exactly ONCE (the checkpointed vocab agg feeds both the
    // total and the log-probs; re-expansion would cost a full extra pass)
    val lm = graft.functions.CorpusStats.unigramSurprisal(docs)
      .queryExecution.executedPlan.toString
    assert(lm.contains("BroadcastHashJoin"), lm)
    assert(!lm.contains("SortMergeJoin"),
      s"vocab join must broadcast, not sort-merge:\n$lm")
    val lmScans = "FileScan parquet".r.findAllIn(lm).length
    assert(lmScans == 1,
      s"surprisal must read the corpus once, saw $lmScans scans:\n$lm")

    // d10: keeper election shuffles on chunk TEXT (the dedup key) as a
    // partial-aggregated MIN — no Window node anywhere, so a boilerplate
    // chunk repeated 10⁶ times can never funnel through one task
    val cd = graft.dedup.Dedup.chunkDedup(docs)
      .queryExecution.executedPlan.toString
    assert(!cd.contains("CartesianProduct"), cd)
    assert(cd.contains("hashpartitioning(ct"), cd)
    assert(!cd.contains("Window"),
      s"chunk keeper election must be an aggregate, not a window:\n$cd")
  }

  test("round-4 curation plans: staged lambdas, group limits, vocabulary-only sorts") {
    val docs = graft.tables.Tables.documents(spark, Sf0001)

    // d12: the gram stream is consumed ONCE (inverted form, no join-back
    // of exploded rows) and the expensive shingle transform appears in a
    // Project/Generate, never inside a scan-level Filter (the pushed-down
    // re-expansion that cost 150× before the staged-projection fix); the
    // uniq-count side joins BROADCAST (doc-row-sized, not gram-sized)
    val dn = graft.dedup.Dedup.duplicatedNgrams(docs, "doc_id", "text", 3, 0.5)
      .queryExecution.executedPlan.toString
    assert(dn.contains("BroadcastHashJoin"), dn)
    assert(!dn.contains("SortMergeJoin"), dn)
    val dnGenerates = "Generate explode".r.findAllIn(dn).length
    assert(dnGenerates == 1,
      s"gram stream must be exploded exactly once, saw $dnGenerates:\n$dn")
    // the scan-side filter must be the CHEAP size(tokens) form, not the
    // re-expanded shingle transform
    val scanFilter = dn.linesIterator.filter(_.contains("DataFilters"))
      .mkString("\n")
    assert(!scanFilter.contains("transform"),
      s"scan filter must not re-expand the shingle lambda:\n$scanFilter")

    // t15: both window phases carry Spark's partial WindowGroupLimit —
    // every input partition is cut to its local top-cap BEFORE each
    // exchange, so a hot domain cannot funnel its rows into one task
    val caps = graft.functions.Sampling.capPerGroup(
        docs.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.col("n_chars")),
        "source", "n_chars", "doc_id", 10)
      .queryExecution.executedPlan.toString
    val partials = "WindowGroupLimit".r.findAllIn(caps).length
    assert(partials >= 4, // (Partial + Final) × two phases
      s"both cap phases must carry group limits, saw $partials:\n$caps")

    // t16: the top-V select runs over the VOCABULARY via TakeOrdered
    // (per-partition heaps), never a global Sort+Exchange of the corpus;
    // the vocab only ever broadcasts
    val oov = graft.functions.CorpusStats.vocabOovRates(docs, 100)
      .queryExecution.executedPlan.toString
    assert(oov.contains("TakeOrderedAndProject(limit=100"), oov)
    assert(oov.contains("BroadcastHashJoin"), oov)
    assert(!oov.contains("SortMergeJoin"), oov)

    // d13: winnowing is pure per-row array math — the plan must contain
    // NO exchange, no generate, no join of any kind
    val win = graft.dedup.Dedup.winnowedFingerprints(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!win.contains("Exchange"),
      s"winnowing must be shuffle-free:\n$win")
    assert(!win.contains("Join") && !win.contains("Generate"), win)

    // t17: target counts ride the raw-count shuffle (one partial_sum in
    // the same aggregate), LLR joins broadcast, corpus scanned twice at
    // most (count pass + score pass)
    val dsir = graft.functions.CorpusStats.dsirWeights(docs,
        org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(dsir.contains("BroadcastHashJoin"), dsir)
    assert(!dsir.contains("SortMergeJoin"), dsir)
    assert(!dsir.contains("CartesianProduct"), dsir)
  }

  test("mattr is one shuffle-free projection; percolate broadcasts the alert side") {
    import org.apache.spark.sql.functions._
    val docs = graft.tables.Tables.documents(spark, Sf0001)
    // MATTR's zero-shuffle claim: no Exchange anywhere in the plan
    val mattrPlan = graft.functions.CorpusStats.mattr(docs, 20)
      .queryExecution.executedPlan.toString
    assert(!mattrPlan.contains("Exchange"),
      s"mattr must stay a per-row projection:\n$mattrPlan")

    // Percolate: the alert table must be the BROADCAST build side; the
    // only shuffle is the matched-pair aggregation
    import spark.implicits._
    val alerts = Seq((1, Seq("spark", "join"))).toDF("alert_id", "terms")
    val percPlan = graft.search.Percolate
      .matches(docs, alerts, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(percPlan.contains("BroadcastHashJoin"),
      s"alert side must broadcast:\n$percPlan")
    assert(!percPlan.contains("SortMergeJoin"),
      s"corpus must never sort-merge against alerts:\n$percPlan")

    // Inverted-alert-index percolate (the million-alert shape): the
    // anchor probe must be a SHUFFLED join — no broadcast of the alert
    // side anywhere — and the fired set must equal the broadcast form's.
    val manyAlerts = Seq((1, Seq("spark", "join")), (2, Seq("filter")),
      (3, Seq("zzz_nowhere"))).toDF("alert_id", "terms")
    val inv = graft.search.Percolate
      .matchesInverted(docs, manyAlerts, "doc_id", "text")
    val invPlan = inv.queryExecution.executedPlan.toString
    assert(invPlan.contains("ShuffledHashJoin"),
      s"anchor probe must be a shuffled equi-join:\n$invPlan")
    val fired = inv.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val firedBroadcast = graft.search.Percolate
      .matches(docs, manyAlerts, "doc_id", "text")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(fired == firedBroadcast && fired.nonEmpty,
      s"inverted fired set diverged: ${fired.size} vs ${firedBroadcast.size}")
    // the corpus-absent term anchors alert 3 and correctly never fires
    assert(!fired.exists(_._1 == 3))
  }

  test("trained-ivf rewrite: production kmeans index serves the same declarative shape") {
    import org.apache.spark.sql.functions._
    import graft.index.IvfIndex

    IvfIndex.ensureTrainedRegistered(spark, Sf0001, k = 8, nprobe = 8)
    IvfIndex.enable(spark)
    val qv = typedlit(SearchEngine.queryVecArray(spark, Sf0001, 0))
    val rewritten = IvfIndex.readRewritableTrained(spark, Sf0001)
      .select(col("vec_id").as("id"),
        round(graft.functions.VectorOps.cosineSim(col("embedding"), qv), 6).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(10)

    // physical plan reads the TRAINED assignment, not raw embeddings and
    // not the fixed-vector a4 index
    val roots = scanRoots(rewritten)
    assert(roots.exists(_.contains("ivf_trained_v2_k8")), roots)
    assert(!roots.exists(_.endsWith("embeddings.parquet")), roots)

    // nprobe = k probes every list -> exactly brute-force top-k
    val emb = graft.tables.Tables.embeddings(spark, Sf0001)
    val expected = emb
      .select(col("vec_id").as("id"),
        round(graft.functions.VectorOps.cosineSim(col("embedding"), qv), 6).as("score"))
      .orderBy(col("score").desc, col("id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = rewritten.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("ivf rewrite declines on semantic mismatches (sort expr, id identity, vector identity)") {
    import org.apache.spark.sql.functions._
    import graft.index.IvfIndex
    IvfIndex.ensure(spark, Sf0001)
    IvfIndex.enable(spark)
    val qv = typedlit(SearchEngine.queryVecArray(spark, Sf0001, 0))
    val src = IvfIndex.readRewritable(spark, Sf0001)
    def score = round(
      graft.functions.VectorOps.cosineSim(col("embedding"), qv), 6).as("score")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // (a) sort on an expression OVER the score: `-score DESC` is
    //     ascending-by-score — serving index top-k here would be wrong rows
    val negSort = src.select(col("vec_id").as("id"), score)
      .orderBy(negate(col("score")).desc, col("id").asc).limit(10)
    assert(!planOf(negSort).contains("ivf/assigned"), planOf(negSort))

    // (b) projected column that is NOT the indexed id column
    val wrongId = src.select(col("embedding").as("id"), score)
      .orderBy(col("score").desc).limit(10)
    assert(!planOf(wrongId).contains("ivf/assigned"), planOf(wrongId))

    // (c) derived id projection (expression, not a bare column)
    val derivedId = src.select((col("vec_id") * 2).as("id"), score)
      .orderBy(col("score").desc, col("id").asc).limit(10)
    assert(!planOf(derivedId).contains("ivf/assigned"), planOf(derivedId))

    // (d) cosine over a derived vector, not the indexed embedding column
    val derivedVec = src.select(col("vec_id").as("id"),
      round(graft.functions.VectorOps.cosineSim(reverse(col("embedding")), qv), 6)
        .as("score"))
      .orderBy(col("score").desc, col("id").asc).limit(10)
    assert(!planOf(derivedVec).contains("ivf/assigned"), planOf(derivedVec))

    // (e) tie-break direction other than id ASC
    val descTie = src.select(col("vec_id").as("id"), score)
      .orderBy(col("score").desc, col("id").desc).limit(10)
    assert(!planOf(descTie).contains("ivf/assigned"), planOf(descTie))

    // (f) the negated sort still computes the right answer via brute force:
    //     ascending order by score (bottom-k), impossible to serve from the
    //     descending index path
    val rows = negSort.collect().map(_.getDouble(1)).toSeq
    assert(rows == rows.sorted, s"expected ascending scores, got $rows")
  }

  test("serving session: AQE off, cache shared with the analytics session") {
    import graft.search.ServingSession
    val sv = ServingSession.of(spark)
    assert(sv ne spark)
    assert(sv.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(ServingSession.of(spark) eq sv) // memoized
    // same SharedState: a table persisted on the analytics session is
    // served from cache by plans built on the serving session (the
    // CacheManager lives in SharedState, not the session)
    val path = s"$Sf0001/documents.parquet"
    val base = spark.read.parquet(path)
    base.persist()
    base.count()
    try {
      val servingPlan = sv.read.parquet(path)
        .queryExecution.executedPlan.toString
      assert(servingPlan.contains("InMemoryTableScan"),
        s"serving session missed the shared cache:\n$servingPlan")
      // and the serving plan is NOT adaptive while the analytics one is
      assert(!servingPlan.contains("AdaptiveSparkPlan"))
    } finally base.unpersist()
  }

  test("full-PSL registered domains: broadcast-only rule joins, host side never shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val hosts = Seq("a.b.example.co.uk", "x.y.ck", "docs.foo.act.edu.au",
      "www.example.com", "site.internal").toDF("host")
    val plan = graft.functions.UrlOps
      .withRegisteredDomainPsl(hosts, "host", "rd")
      .queryExecution.executedPlan.toString
    // one broadcast hash join per rule depth — the ~9.5k-rule table rides
    // broadcasts (~250 KB total); a shuffle of the host side here would
    // be a full-corpus exchange per crawl-gate pass at 100 TB
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 4, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"host side must never shuffle against the rule table:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no host-side shuffle exchange:\n$plan")
  }

  test("tfidf graph artifacts carry the seek layouts: In(src)/In(vec_id) push to the scans") {
    import org.apache.spark.sql.functions.col
    val edges = graft.index.TfIdfGraphIndex.edges(spark, Sf0001)
    val vecs = graft.index.TfIdfGraphIndex.vectors(spark, Sf0001)
    val ep = edges.where(col("src").isin(0L, 16L, 32L))
      .queryExecution.executedPlan.toString
    assert(ep.contains("PushedFilters: [In(src"), ep)
    val vp = vecs.where(col("vec_id").isin(0L, 16L, 32L))
      .queryExecution.executedPlan.toString
    assert(vp.contains("PushedFilters: [In(vec_id"), vp)

    // the coarse entry layer is a PREBUILT artifact (1/16 the rows as
    // I/O — the inline pmod filter reads everything and discards 15/16),
    // value-identical to the inline form
    import org.apache.spark.sql.functions.{lit, pmod}
    import graft.search.Ann
    val coarse = graft.index.TfIdfGraphIndex.coarse(spark, Sf0001)
    val inline = vecs.where(pmod(col("vec_id"), lit(16)) === lit(0))
    assert(coarse.count() == inline.count() && coarse.count() > 0)
    val qv = graft.index.TfIdfGraphIndex.queryVec(spark, Sf0001, "spark join")
    val fromArtifact = Ann.hierEntriesFrom(coarse, qv, 3)
      .collect().map(_.getLong(0)).toSeq
    val inlineEntries = Ann.hierEntries(vecs, qv, 16, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(fromArtifact == inlineEntries && fromArtifact.nonEmpty)
  }

  test("tombstone ledgers are plan-free until used: delete-free roots keep anti-join-free reads, deleted roots add ONLY broadcast anti-joins") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.index.IncrementalKnn
    val emb = graft.tables.Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-tombplan").toString + "/g"
    IncrementalKnn.init(emb, centroids, root, 3, 5)

    // pre-delete: the merged read has NO anti-join anywhere — the ledger
    // existence probe alone gates the filter, so delete-free deployments
    // pay nothing
    val before = IncrementalKnn.edges(spark, root, 5)
      .queryExecution.executedPlan.toString
    assert(!before.contains("LeftAnti"), before.take(1500))

    // post-delete: exactly the broadcast anti-joins appear (src + dst on
    // edges) — broadcast, never a shuffled join on the corpus side
    IncrementalKnn.delete(Seq(3L).toDF("vec_id"), root, tag = Some("p"))
    val after = IncrementalKnn.edges(spark, root, 5)
      .queryExecution.executedPlan.toString
    assert(after.contains("LeftAnti"), after.take(1500))
    assert("BroadcastHashJoin .* LeftAnti".r.findAllIn(after).size >= 2,
      after.take(2000))
    assert(!"SortMergeJoin .* LeftAnti".r.findAllIn(after).hasNext, after.take(2000))
  }

  test("folded graph segments keep the seek layout: In(src)/In(vec_id) push into the folded scans") {
    import org.apache.spark.sql.functions.col
    import graft.index.{IncrementalKnn, SegmentStore}
    val emb = graft.tables.Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-fold-plan").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    IncrementalKnn.tailFold(spark, root, keep = 1, tag = Some("fp"))
    // the folded physical segment is the manifest's last entry; its
    // edges and vecs artifacts must serve the same pushed point lookups
    // the per-batch `_srt` segments do — the serving walk's per-hop
    // frontier reads prune row groups on folded history too
    val p = SegmentStore.currentManifest(s"$root/commit").get.entries.last.dir
    val ep = spark.read.parquet(s"$root/edges/$p")
      .where(col("src").isin(1L, 3L, 5L))
      .queryExecution.executedPlan.toString
    assert(ep.contains("PushedFilters: [In(src"), ep)
    val vp = spark.read.parquet(s"$root/vecs/$p")
      .where(col("vec_id").isin(1L, 3L, 5L))
      .queryExecution.executedPlan.toString
    assert(vp.contains("PushedFilters: [In(vec_id"), vp)
  }

  test("q30 ABC analysis: no single-partition window, and the two-pass cumulative equals the one-window form bit-for-bit") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = graft.SparkEntry.queries("q30_abc_analysis")(spark, Sf0001)
    // every WindowExec is partitioned (the r16 two-pass rewrite's whole
    // point: the old global Window.orderBy funneled the part catalog
    // through one task)
    val plan = df.queryExecution.executedPlan.toString
    val windowLines = plan.split('\n')
      .filter(l => l.contains("Window ") || l.contains("WindowExec"))
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("__pid")),
      s"q30 windows must be partitioned by the prefix-sum bucket:\n$plan")
    // value pin: the one-window reference form, same rows, same bits
    val rev = graft.tables.Tables(spark, Sf0001, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long") *
        (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
        .as("units"))
    val w = Window.orderBy(col("units").desc, col("l_partkey").asc)
    val ref = rev
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum(col("units")).over(w))
      .withColumn("total", max(col("cum")).over(Window.partitionBy()))
      .withColumn("cum_share",
        round(col("cum").cast("double") / col("total"), 6))
      .select(col("l_partkey").as("partkey"),
        (expr("(units + 50) div 100").cast("double") / 100.0).as("revenue"),
        col("rank"), col("cum_share"),
        when(col("cum_share") <= 0.5, "A")
          .when(col("cum_share") <= 0.8, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("rank"))
      .collect().map(_.toSeq).toSeq
    val got = df.collect().map(_.toSeq).toSeq
    assert(got == ref && ref.nonEmpty)
  }
}
