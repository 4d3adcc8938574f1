package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.index.{Bm25Index, IndexCatalog, KeyIndex, TfIdfEmbedder, TfIdfIndex}
import graft.search.Bm25
import graft.tables.Tables

/** The build/query index split: prebuilt layouts must give hash-exact the
  * same answers as the self-contained paths, and their query plans must
  * seek (pushed filters), not scan. */
class IndexSpec extends SparkSpec {

  test("bm25: indexed topK == direct topK (hash-exact)") {
    val docs = Tables.documents(spark, Sf0001)
    val out = Files.createTempDirectory("graft-bm25-idx").toString
    Bm25Index.build(docs, "doc_id", "text", out)
    val terms = Seq("spark", "join", "filter")
    val direct = Bm25.topK(docs, "doc_id", "text", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = Bm25Index.topK(spark, out, "doc_id", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == direct && direct.nonEmpty)
  }

  test("bm25 maxscore: pruned topK == exact topK across query shapes; fixture exercises the PRUNED path") {
    val docs = Tables.documents(spark, Sf0001)
    val out = Files.createTempDirectory("graft-bm25-ms").toString
    Bm25Index.build(docs, "doc_id", "text", out)
    def exact(terms: Seq[String], k: Int) =
      Bm25Index.topK(spark, out, "doc_id", terms, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def pruned(terms: Seq[String], k: Int) =
      Bm25Index.topKMaxScore(spark, out, "doc_id", terms, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the dominant real-query shape: one rare term + common ones
    val mix = Seq("dup", "the", "a")
    assert(pruned(mix, 10) == exact(mix, 10) && exact(mix, 10).size == 10)
    // uniformly common terms (θ can't separate) — degrades to exact
    val common = Seq("the", "a", "spark")
    assert(pruned(common, 10) == exact(common, 10))
    // unknown term mixed in; single term; k past the matching set
    assert(pruned(Seq("dup", "zzznoterm"), 5) == exact(Seq("dup", "zzznoterm"), 5))
    assert(pruned(Seq("dup"), 5) == exact(Seq("dup"), 5))
    assert(pruned(Seq("dup", "the"), 5000) == exact(Seq("dup", "the"), 5000))
    // prove the mix fixture took the PRUNED path, not the degraded one:
    // recompute the MaxScore precondition — the non-top terms' summed
    // upper bounds must fall below the rare list's own k-th best full
    // score (so 'the'/'a' are non-essential and candidates = dup docs)
    val ubs = spark.read.parquet(s"$out/termstats")
      .where(col("term").isin(mix: _*))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(ubs.keySet == mix.toSet)
    val t1 = mix.maxBy(ubs) // 'dup' — the rare, high-idf list
    assert(t1 == "dup")
    val theta = exact(mix, 10) // dup ∈ every top doc ⇒ θ over dup docs
      .map(_._2).min
    assert((ubs - t1).values.sum < theta - 1e-6,
      s"fixture no longer exercises pruning: ubs=$ubs theta=$theta")
  }

  test("bm25 prf expansion: two-pass loop == independently recomputed expansion over the direct-path weights") {
    val docs = Tables.documents(spark, Sf0001)
    val out = Files.createTempDirectory("graft-bm25-prf").toString
    Bm25Index.build(docs, "doc_id", "text", out)
    val terms = Seq("spark", "join", "filter")
    val got = Bm25Index.prfExpandTopK(spark, out, docs, "doc_id", "text",
        terms, fbDocs = 3, nExp = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // independent recompute of the expansion election: direct (unindexed)
    // per-(term, doc) BM25 weights over the whole corpus, fb docs from
    // the direct topK, expansion = top-2 summed weight outside the query
    val base = docs.select(col("doc_id"),
        graft.functions.TextOps.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    val tf = base.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val w = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(graft.search.Bm25.K1 + 1)) /
          (col("tf") + lit(graft.search.Bm25.K1) *
            (lit(1 - graft.search.Bm25.B) +
              lit(graft.search.Bm25.B) * col("dl") / col("avgdl"))))
      .select(col("term"), col("doc_id"), col("w"))
    val fbIds = Bm25.topK(docs, "doc_id", "text", terms, 3)
      .collect().map(_.getLong(0)).toSeq
    val expansion = w.where(col("doc_id").isin(fbIds: _*))
      .where(!col("term").isin(terms: _*))
      .groupBy(col("term")).agg(round(sum(col("w")), 6).as("ew"))
      .orderBy(col("ew").desc, col("term").asc).limit(2)
      .collect().map(_.getString(0)).toSeq
    assert(expansion.size == 2 && expansion.intersect(terms).isEmpty)
    val expected = Bm25.topK(docs, "doc_id", "text", terms ++ expansion, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected && got.size == 10)
    // degenerate fb: a query matching nothing expands to nothing and
    // serves the plain (empty) base result, never an error
    val none = Bm25Index.prfExpandTopK(spark, out, docs, "doc_id", "text",
      Seq("zzznosuchterm"), 3, 2, 10)
    assert(none.collect().isEmpty)
  }

  test("incremental bm25: grown index == full rebuild, appends shift scores, crash-safe") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, Sf0001)
    val root = Files.createTempDirectory("graft-bm25-inc").toString
    // grow in three installments
    graft.index.IncrementalBm25.init(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text", root)
    graft.index.IncrementalBm25.append(
      docs.where(col("doc_id") % 3 === 1), "doc_id", "text", root)
    graft.index.IncrementalBm25.append(
      docs.where(col("doc_id") % 3 === 2), "doc_id", "text", root)
    assert(graft.index.IncrementalBm25.version(root) == 3)

    val full = Files.createTempDirectory("graft-bm25-full").toString
    Bm25Index.build(docs, "doc_id", "text", full)
    for (terms <- Seq(Seq("spark", "join", "filter"), Seq("data"),
                      Seq("stream", "window"))) {
      val grown = graft.index.IncrementalBm25.topK(spark, root, "doc_id", terms, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val built = Bm25Index.topK(spark, full, "doc_id", terms, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(grown == built && built.nonEmpty, s"terms=$terms")
    }

    // appends really change global stats: a third of the corpus alone
    // scores differently than the grown whole
    val partialRoot = Files.createTempDirectory("graft-bm25-part").toString
    graft.index.IncrementalBm25.init(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text", partialRoot)
    val partial = graft.index.IncrementalBm25
      .topK(spark, partialRoot, "doc_id", Seq("data"), 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val whole = graft.index.IncrementalBm25
      .topK(spark, root, "doc_id", Seq("data"), 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(partial != whole)

    // crash safety: a segment directory without its published stats
    // version is invisible to queries
    val before = graft.index.IncrementalBm25
      .topK(spark, root, "doc_id", Seq("data"), 20).collect().toSeq
    val orphan = new java.io.File(s"$root/seg/3")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$root/seg/0"), orphan)
    assert(graft.index.IncrementalBm25.version(root) == 3)
    val after = graft.index.IncrementalBm25
      .topK(spark, root, "doc_id", Seq("data"), 20).collect().toSeq
    assert(after == before)

    // append-before-init is refused
    intercept[IllegalArgumentException] {
      graft.index.IncrementalBm25.append(docs, "doc_id", "text",
        Files.createTempDirectory("graft-bm25-empty").toString)
    }
  }

  test("batched bm25: one plan over Q queries == per-query topK loop") {
    val out = Files.createTempDirectory("graft-bm25-batch").toString
    Bm25Index.build(Tables.documents(spark, Sf0001), "doc_id", "text", out)
    val specs = Seq(0L -> Seq("data", "query"), 1L -> Seq("stream", "window"),
      2L -> Seq("spark", "join", "filter"))
    val qs = spark.createDataFrame(
      specs.flatMap { case (qid, ts) => ts.map(qid -> _) }).toDF("qid", "term")
    val batched = Bm25Index.topKBatched(spark, out, "doc_id", qs, "qid", "term", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    specs.foreach { case (qid, terms) =>
      val single = Bm25Index.topK(spark, out, "doc_id", terms, 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batched(qid) == single && single.nonEmpty, s"qid=$qid")
    }
    // empty batch degenerates to an empty frame, not an error
    assert(Bm25Index.topKBatched(spark, out, "doc_id", qs.limit(0),
      "qid", "term", 7).count() == 0L)
  }

  test("batched maxscore bm25: pruned batch == exact batch == per-query pruned loop, incl. degenerate qids") {
    val out = Files.createTempDirectory("graft-bm25-msb").toString
    Bm25Index.build(Tables.documents(spark, Sf0001), "doc_id", "text", out)
    // qid 0 is the s3g pruned-path mix (the single-query test proves it
    // prunes on this fixture); 1 is uniformly-common (θ can't separate);
    // 2 is single-term; 3 mixes an OOV term; 4 repeats a token
    val specs = Seq(
      0L -> Seq("dup", "the", "a"),
      1L -> Seq("the", "a", "spark"),
      2L -> Seq("dup"),
      3L -> Seq("dup", "zzznoterm"),
      4L -> Seq("data", "query", "data"))
    val got = Bm25Index.topKMaxScoreBatched(spark, out, "doc_id", specs, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    specs.foreach { case (qid, terms) =>
      val exact = Bm25Index.topK(spark, out, "doc_id", terms.distinct, 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val prunedSingle = Bm25Index
        .topKMaxScore(spark, out, "doc_id", terms.distinct, 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got(qid) == exact && exact.nonEmpty, s"qid=$qid vs exact")
      assert(got(qid) == prunedSingle, s"qid=$qid vs single pruned")
    }
    // all-OOV batch degenerates to an empty frame, not an error
    assert(Bm25Index.topKMaxScoreBatched(spark, out, "doc_id",
      Seq(9L -> Seq("zzznoterm")), 7).count() == 0L)
  }

  test("tfidf: indexed searchText == embedder searchText (hash-exact)") {
    val docs = Tables.documents(spark, Sf0001)
    val out = Files.createTempDirectory("graft-tfidf-idx").toString
    TfIdfIndex.build(docs, "doc_id", "text", out)
    val q = "spark join filter the data"
    val direct = TfIdfEmbedder.searchText(docs, "doc_id", "text", q, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = TfIdfIndex.searchText(spark, out, "doc_id", q, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == direct && direct.nonEmpty)
  }

  test("tfidf: searchTextBatched per-qid == the single-query searchText loop") {
    val docs = Tables.documents(spark, Sf0001)
    val out = Files.createTempDirectory("graft-tfidf-bidx").toString
    TfIdfIndex.build(docs, "doc_id", "text", out)
    val qs = Seq(0L -> "spark join filter the data", 1L -> "vector scan batch",
      2L -> "zzzunknownzzz") // qid 2: no corpus token -> no rows, no error
    val batched = TfIdfIndex.searchTextBatched(spark, out, "doc_id", qs, 8)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    for ((qid, q) <- qs) {
      val single = TfIdfIndex.searchText(spark, out, "doc_id", q, 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batched.getOrElse(qid, Seq.empty) == single, s"qid=$qid")
    }
    assert(batched.contains(0L) && !batched.contains(2L))
    // all-unknown batch degenerates to an empty frame, not an error
    assert(TfIdfIndex.searchTextBatched(spark, out, "doc_id",
      Seq(0L -> "zzzunknownzzz"), 8).count() == 0L)
  }

  test("driver-side bucketOf matches the Column-side bucket hash for every corpus token") {
    val toks = Tables.documents(spark, Sf0001)
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("tok"))
      .distinct()
      .select(col("tok"),
        (graft.functions.HashOps.tokenHash32(col("tok")) % TfIdfIndex.Dim)
          .cast("int").as("bucket"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    assert(toks.nonEmpty)
    toks.foreach { case (tok, sparkBucket) =>
      assert(TfIdfIndex.bucketOf(tok) == sparkBucket, s"token '$tok'")
    }
  }

  test("key index: normalized columns round-trip and exact match equals a raw normalized filter") {
    val dir = Sf0001
    val docs = Tables.documents(spark, dir)
    val viaIndex = graft.search.SearchEngine.exactMatch(spark, dir, " src7 ", 10)
      .collect().map(_.getLong(0)).toSet
    val raw = docs.where(upper(trim(col("source"))) === "SRC7")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // exactMatch caps at 10 (reference T5) ordered score desc, id asc
    assert(viaIndex == raw.take(10).toSet && raw.nonEmpty)
  }

  test("exact match early exit: secondary arm drops when the primary arm has hits") {
    // 'en' is a lang value, not a source value -> only the secondary
    // (0.9-scored) arm matches; a source hit must suppress lang hits.
    val secOnly = graft.search.SearchEngine.exactMatch(spark, Sf0001, "en", 10).collect()
    assert(secOnly.nonEmpty && secOnly.forall(_.getDouble(1) == 0.9))
    val primOnly = graft.search.SearchEngine.exactMatch(spark, Sf0001, "src7", 10).collect()
    assert(primOnly.nonEmpty && primOnly.forall(_.getDouble(1) == 1.0))
  }

  test("trained IVF: kmeans centroids give bounded recall vs brute force") {
    val out = Files.createTempDirectory("graft-ivf-trained").toString
    val (assignedPath, centroidsPath) =
      graft.index.IvfIndex.buildTrained(spark, Sf0001, k = 8, out)
    val assigned = spark.read.parquet(assignedPath)
    val centroids = spark.read.parquet(centroidsPath)
    val emb = Tables.documents(spark, Sf0001).sparkSession
      .read.parquet(s"$Sf0001/embeddings.parquet")
    assert(assigned.count() == emb.count()) // every vector assigned
    assert(centroids.count() == 8)

    val qdf = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val brute = graft.search.SearchEngine.denseTopK(spark, Sf0001, 0, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = graft.search.Ann
      .ivfTopKAssigned(assigned, centroids, qdf, nprobe = 4, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    info(s"trained-ivf recall@10 (nprobe=4/8): $recall")
    assert(recall >= 0.5, s"recall collapsed: $recall")
    // probing every list IS brute force
    val full = graft.search.Ann
      .ivfTopKAssigned(assigned, centroids, qdf, nprobe = 8, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(full == brute)
  }

  test("batched ANN: one plan over Q queries == per-query ivfTopKAssigned loop") {
    import graft.search.Ann
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = Ann.ivfAssign(emb, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

    val batched = Ann.ivfTopKBatched(assigned, centroids, queries, nprobe = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap

    (0L until 8L).foreach { qid =>
      val qv = emb.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val single = Ann.ivfTopKAssigned(assigned, centroids, qv, nprobe = 3, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batched(qid) == single && single.nonEmpty, s"qid=$qid")
    }
    assigned.unpersist()
  }

  test("batched graph ANN: one plan over Q walks == per-query graphTopK loop") {
    import graft.search.Ann
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val edges = Ann.knnGraph(emb, centroids, 3, 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val queries = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

    val batched = Ann.graphTopKBatched(edges, emb, queries,
        Ann.hierEntriesBatched(emb, queries, 16, 3), beam = 8, hops = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap

    (0L until 4L).foreach { qid =>
      val qv = emb.where(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val single = Ann.graphTopK(edges, emb, qv,
          Ann.hierEntries(emb, qv, 16, 3), beam = 8, hops = 2, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batched(qid) == single && single.nonEmpty, s"qid=$qid")
    }

    // the SEEK-batched walk (r14 serving default behind
    // graphSearchBatched) is row-identical to the one-plan batched walk
    // — same per-qid candidate algebra, per-hop point lookups instead of
    // corpus scans
    val seekBatched = Ann.graphTopKSeekBatched(edges, emb, queries,
        Ann.hierEntriesBatched(emb, queries, 16, 3), beam = 8, hops = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    assert(seekBatched == batched)
    edges.unpersist()
  }

  test("seek graph ANN: point-lookup walk == one-plan walk; hop reads push src/vec_id IN filters") {
    import graft.search.Ann
    import graft.index.KnnGraphIndex
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    // the real artifact (src-sorted layout), as a27 serves it
    val edges = KnnGraphIndex.edges(spark, Sf0001, 3, 5)
    val qv = emb.where(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val entryIds = Ann.hierEntries(emb, qv, 16, 3)
      .collect().map(_.getLong(0)).toSeq

    val seek = Ann.graphTopKSeek(edges, emb, qv, entryIds,
        beam = 8, hops = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scan = Ann.graphTopK(edges, emb, qv,
        entryIds.toDF("id"), beam = 8, hops = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(seek == scan && seek.size == 10)

    // the per-hop reads must SEEK: literal IN predicates pushed to the
    // sorted artifact / vectors parquet scans (row-group min/max pruning)
    // — or, when ServingCache has already pinned the same artifact path
    // RAM-resident (Spark's CacheManager substitutes the InMemoryRelation
    // into every later plan over that path), the same IN predicate as the
    // InMemoryTableScan's scan filter: cached batches inherit the sorted
    // layout, so per-batch min/max stats prune the point lookups exactly
    // the way the parquet row groups did
    def seeks(plan: String, c: String): Boolean =
      plan.contains(s"PushedFilters: [In($c") ||
        (plan.contains("InMemoryTableScan") &&
          s"""InMemoryTableScan [^\\n]*\\[$c#\\d+L? IN \\(""".r
            .findFirstIn(plan).isDefined)
    val hopEdges = edges.where(col("src").isin(entryIds: _*))
      .queryExecution.executedPlan.toString
    assert(seeks(hopEdges, "src"), hopEdges)
    val hopVecs = emb.where(col("vec_id").isin(entryIds: _*))
      .queryExecution.executedPlan.toString
    assert(seeks(hopVecs, "vec_id"), hopVecs)
  }

  test("pq: every (vector, subspace) encodes; ADC re-rank holds recall vs brute force") {
    import graft.search.Ann
    val emb = Tables.documents(spark, Sf0001).sparkSession
      .read.parquet(s"$Sf0001/embeddings.parquet")
    val codebooks = Ann.pqCodebooks(emb, m = 4, subDim = 16, k = 16)
    assert(codebooks.count() == 4 * 16)

    val assigned = Ann.pqAssign(emb, codebooks, m = 4, subDim = 16)
    assert(assigned.count() == emb.count() * 4) // one code per (vector, subspace)
    // codes are valid codebook ids
    val cids = assigned.select("cid").distinct().collect().map(_.getLong(0))
    assert(cids.forall(c => c >= 0 && c < 16))

    val qdf = emb.where(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val brute = graft.search.SearchEngine.denseTopK(spark, Sf0001, 0, 10)
      .collect().map(_.getLong(0)).toSet
    val pq = Ann.pqTopKReranked(emb, codebooks, qdf, m = 4, subDim = 16, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    info(s"pq-adc recall@10 (m=4, k*3 oversample): $recall")
    // 16 codewords/subspace on RANDOM vectors is a high-distortion regime;
    // measured 0.4 here. The floor guards collapse, not quality — quality
    // comes from oversampling (next assertion) and, in production, trained
    // codebooks.
    assert(recall >= 0.3, s"recall collapsed: $recall")
    // candidate cut spanning the whole corpus -> EXACTLY brute force (the
    // PQ analogue of nprobe = K)
    val full = Ann.pqTopKReranked(emb, codebooks, qdf, m = 4, subDim = 16,
      k = 10, oversample = 50)
      .collect().map(_.getLong(0)).toSet
    assert(full == brute)
    // the returned scores are exact cosine, never quantized values
    val scores = Ann.pqTopKReranked(emb, codebooks, qdf, m = 4, subDim = 16, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val exact = graft.search.SearchEngine.denseTopK(spark, Sf0001, 0, 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    scores.foreach { case (id, s) => assert(s == exact(id), s"score drift for $id") }
  }

  test("appendAssign: new vectors enter their nearest list and are served, corpus untouched") {
    import graft.index.IvfIndex
    import graft.search.Ann
    val out = Files.createTempDirectory("graft-ivf-append").toString
    val (assigned, centroids) = IvfIndex.buildTrained(spark, Sf0001, k = 4, out)
    val info = IvfIndex.Info(assigned, centroids, nprobe = 4, 0L)
    val nBefore = spark.read.parquet(assigned).count()

    // append two fresh vectors: one clone of vec 7 (id 900007), one of vec 3
    val emb = Tables.embeddings(spark, Sf0001)
    val fresh = emb.where(col("vec_id").isin(7L, 3L))
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
    IvfIndex.appendAssign(spark, info, fresh)

    val after = spark.read.parquet(assigned)
    assert(after.count() == nBefore + 2)
    // each append touched exactly one list; the partition column survived
    assert(after.where(col("vec_id") === 900007L).count() == 1)

    // a query AT vec 7 now returns both the original and the appended clone
    // at identical (rounded) score, ahead of everything else
    val qv = emb.where(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    val top = Ann.ivfTopKAssigned(after, spark.read.parquet(centroids), qv,
      nprobe = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top.map(_._1).toSet == Set(7L, 900007L), top)
    assert(top.forall(_._2 == 1.0), top)
  }

  test("tfidf empty/whitespace query returns an empty frame, not an error") {
    val out = Files.createTempDirectory("graft-tfidf-empty").toString
    TfIdfIndex.build(Tables.documents(spark, Sf0001), "doc_id", "text", out)
    assert(TfIdfIndex.searchText(spark, out, "doc_id", "", 5).collect().isEmpty)
    assert(TfIdfIndex.searchText(spark, out, "doc_id", "   ", 5).collect().isEmpty)
  }

  test("catalog: build runs once per (dir, name); invalidate forces a rebuild") {
    var builds = 0
    val dir = Files.createTempDirectory("graft-cat").toString
    def ensure() = IndexCatalog.ensure(spark, dir, "probe") { p =>
      builds += 1
      Files.createDirectories(java.nio.file.Paths.get(p))
    }
    val p1 = ensure(); val p2 = ensure()
    assert(p1 == p2 && builds == 1)
    IndexCatalog.invalidate(dir, "probe")
    ensure()
    assert(builds == 2)
  }

  test("mmr: lambda=1 reduces to plain top-k; selection is reproducible") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.04f)),
      (3L, Array(0.6f, 0.8f)),
      (4L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val qv = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("qvec")
    val plain = graft.search.Ann.mmrRerank(vecs, qv, m = 4, k = 3, lambda = 1.0)
      .collect().map(_.getLong(1)).toList
    assert(plain == List(1L, 2L, 3L), plain.toString)
    def run() = graft.search.Ann.mmrRerank(vecs, qv, m = 4, k = 4, lambda = 0.5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toList
    val a = run(); val b = run()
    assert(a == b, "greedy selection must be deterministic")
    assert(a.map(_._1) == List(1, 2, 3, 4))
  }

  test("mmr: near-dup of the first pick is demoted below a diverse candidate") {
    import spark.implicits._
    // q != v10, so sim(11,10) ~ 1 EXCEEDS rel(11) and the penalty bites:
    //   11: 0.5*0.971 - 0.5*0.999 < 0   (near-dup of the winner)
    //   12: 0.5*0.600 - 0.5*0.588 > 0   (diverse arm)
    val vecs = Seq(
      (10L, Array(0.98f, 0.2f, 0.0f)),
      (11L, Array(0.97f, 0.24f, 0.0f)), // near-dup of 10
      (12L, Array(0.6f, 0.0f, 0.8f))    // diverse
    ).toDF("vec_id", "embedding")
    val qv = Seq(Tuple1(Array(1.0f, 0.0f, 0.0f))).toDF("qvec")
    val out = graft.search.Ann.mmrRerank(vecs, qv, m = 3, k = 3, lambda = 0.5)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toList
    assert(out.map(_._2) == List(10L, 12L, 11L), out.toString)
  }

  test("mmr: candidate head over MaxMmrCandidates is rejected up front") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val qv = Seq(Tuple1(Array(1.0f, 0.0f))).toDF("qvec")
    val e = intercept[IllegalArgumentException] {
      graft.search.Ann.mmrRerank(vecs, qv,
        m = graft.search.Ann.MaxMmrCandidates + 1, k = 10, lambda = 0.5)
    }
    assert(e.getMessage.contains("MaxMmrCandidates"), e.getMessage)
  }

  test("incremental ivf: grown index == monolithic assignment, crash-safe, full-folded == grown") {
    import graft.index.IncrementalIvf
    import graft.search.Ann
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qv = emb.where(col("vec_id") === 7L).select(col("embedding").as("qvec"))

    // grow in three installments
    val root = Files.createTempDirectory("graft-ivf-inc").toString + "/idx"
    IncrementalIvf.init(emb.where(col("vec_id") % 3 === 0), centroids, root)
    IncrementalIvf.append(emb.where(col("vec_id") % 3 === 1), root)
    IncrementalIvf.append(emb.where(col("vec_id") % 3 === 2), root)
    assert(IncrementalIvf.version(root) == 3)

    val rebuilt = Ann.ivfTopK(emb, centroids, qv, nprobe = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val grown = IncrementalIvf.topK(spark, root, qv, nprobe = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(grown == rebuilt && rebuilt.nonEmpty)

    // crash safety: a segment dir without its published version marker is
    // invisible to queries
    val orphan = new java.io.File(s"$root/seg/3")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$root/seg/0"), orphan)
    assert(IncrementalIvf.version(root) == 3)
    val afterOrphan = IncrementalIvf.topK(spark, root, qv, nprobe = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterOrphan == grown)

    // a stray non-numeric commit entry (external tool debris) is skipped,
    // not a NumberFormatException bricking every read
    val stray = new java.io.File(s"$root/commit/v=tmp")
    stray.mkdirs()
    new java.io.File(stray, "_COMMITTED").createNewFile()
    assert(IncrementalIvf.version(root) == 3)

    def top = IncrementalIvf.topK(spark, root, qv, nprobe = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // size-tiered trigger: under the cap nothing folds; over it the tail
    // folds IN THIS ROOT, scores unchanged
    assert(IncrementalIvf.tailFoldIfNeeded(spark, root, maxSegments = 3).isEmpty)
    assert(IncrementalIvf.fanIn(root) == 3)
    IncrementalIvf.tailFoldIfNeeded(spark, root, maxSegments = 2)
    assert(IncrementalIvf.fanIn(root) <= 2)
    assert(top == grown)

    // the full fold leaves one segment, scores unchanged
    IncrementalIvf.tailFold(spark, root, keep = 0)
    assert(IncrementalIvf.fanIn(root) == 1)
    assert(top == grown)

    // append-before-init is refused
    intercept[IllegalArgumentException] {
      IncrementalIvf.append(emb,
        Files.createTempDirectory("graft-ivf-empty").toString)
    }
  }

  test("incremental ivf: drift-triggered retrain rebalances and equals a fresh build") {
    import graft.index.IncrementalIvf
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    // Pathologically-drifted geometry: centroid 1 is a scaled copy of
    // centroid 0 (identical direction), so EVERY vector ties on cosine
    // and the cid-asc tie-break sends the whole corpus to list 0 — the
    // fully-collapsed assignment frozen centroids drift toward.
    val v0 = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val skewed = Seq((0L, v0), (1L, v0.map(_ * 0.5f))).toDF("cid", "cvec")
    val root = Files.createTempDirectory("graft-ivf-drift").toString + "/idx"
    IncrementalIvf.init(emb.where(col("vec_id") % 2 === 0), skewed, root)
    IncrementalIvf.append(emb.where(col("vec_id") % 2 === 1), root)

    // below threshold: untouched (worst-case balance here is 2.0 — all
    // rows in one of 2 lists)
    assert(IncrementalIvf.retrainIfImbalanced(spark, root, k = 4,
      maxBalance = 2.5) == root)
    // above: retrain fires into a versioned sibling
    val newRoot = IncrementalIvf.retrainIfImbalanced(spark, root, k = 4,
      maxBalance = 1.5)
    assert(newRoot == s"$root-r2" && IncrementalIvf.version(newRoot) == 1)
    assert(IncrementalIvf.version(root) == 2) // old root untouched

    // retrained centroids are a real k-means fit: k rows, assignment no
    // longer collapsed into one list
    val newCent = IncrementalIvf.readCentroids(spark, newRoot)
    assert(newCent.count() == 4)
    val nLists = IncrementalIvf.readAssigned(spark, newRoot)
      .select(col("cid")).distinct().count()
    assert(nLists >= 2, s"assignment still collapsed: $nLists lists")

    // served results == a from-scratch build against the same corpus and
    // the retrained centroids (same ivfAssign arithmetic)
    val qv = emb.where(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    val served = IncrementalIvf.topK(spark, newRoot, qv, nprobe = 4, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = Ann.ivfTopK(emb, newCent, qv, nprobe = 4, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == rebuilt && rebuilt.nonEmpty)
  }

  test("incremental indexes: scheme-qualified (file:) roots work via Hadoop FS") {
    // The commit protocol goes through the Hadoop FileSystem API
    // (SegmentStore), not java.io.File — so an index root addressed by a
    // URI with a scheme, the shape hdfs:// and s3a:// roots have, must
    // work end-to-end. `file:/...` is exactly such a URI: java.io.File
    // would treat it as a relative path named "file:", so this test fails
    // against any POSIX-only regression while needing no external
    // cluster.
    import graft.index.{IncrementalBm25, IncrementalIvf}
    import graft.search.Ann
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qv = emb.where(col("vec_id") === 7L).select(col("embedding").as("qvec"))

    val root = "file:" + Files.createTempDirectory("graft-fsuri").toString + "/idx"
    IncrementalIvf.init(emb.where(col("vec_id") % 2 === 0), centroids, root,
      tag = Some("b0"))
    IncrementalIvf.append(emb.where(col("vec_id") % 2 === 1), root,
      tag = Some("b1"))
    assert(IncrementalIvf.version(root) == 2)
    assert(IncrementalIvf.committedHasTag(root, "b0"))
    assert(IncrementalIvf.committedHasTag(root, "b1"))
    assert(!IncrementalIvf.committedHasTag(root, "b2"))
    val grown = IncrementalIvf.topK(spark, root, qv, nprobe = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = Ann.ivfTopK(emb, centroids, qv, nprobe = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(grown == rebuilt && rebuilt.nonEmpty)

    // sparse twin under a scheme-qualified root, including the tag check
    val docs = Tables.documents(spark, Sf0001)
    val broot = "file:" + Files.createTempDirectory("graft-fsuri-b").toString + "/idx"
    IncrementalBm25.init(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", broot, tag = Some("m0"))
    IncrementalBm25.append(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "text", broot, tag = Some("m1"))
    assert(IncrementalBm25.version(broot) == 2)
    assert(IncrementalBm25.committedHasTag(broot, "m1"))
    // any-version contract: a replayed step must find its tag below the top
    assert(IncrementalBm25.committedHasTag(broot, "m0"))
    val hits = IncrementalBm25.topK(spark, broot, "doc_id",
      Seq("the", "data"), k = 5).collect()
    assert(hits.nonEmpty)
  }

  test("incremental bm25: replaying a CDC trigger body changes nothing (tags checked on every committed version)") {
    // One trigger commits up to three versions (upsert, insert, fold): a
    // replay must find ups_1 below the latest version, or it re-appends
    // the upsert and the insert, doubling their postings and stats.
    import graft.index.IncrementalBm25
    import spark.implicits._
    val root = Files.createTempDirectory("graft-bm25-replay").toString + "/i"
    IncrementalBm25.init(Seq((1L, "spark stream data"), (2L, "data index query"),
      (3L, "join shuffle data")).toDF("doc_id", "text"), "doc_id", "text", root,
      numFiles = 1)
    def trigger(): Unit = {
      IncrementalBm25.delete(Seq(3L).toDF("doc_id"), "doc_id", root, Some("del_1"))
      IncrementalBm25.upsert(Seq((2L, "data data index")).toDF("doc_id", "text"),
        "doc_id", "text", root, 1, Some("ups_1"))
      if (!IncrementalBm25.committedHasTag(root, "batch_1"))
        IncrementalBm25.append(Seq((4L, "data query stream")).toDF("doc_id", "text"),
          "doc_id", "text", root, 1, Some("batch_1"))
    }
    def state() = (IncrementalBm25.version(root), IncrementalBm25.fanIn(root),
      IncrementalBm25.topK(spark, root, "doc_id", Seq("data", "query"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    trigger()
    val once = state()
    assert(once._1 == 3 && once._3.map(_._1).toSet == Set(1L, 2L, 4L))
    trigger()
    assert(state() == once)
  }

  test("incremental bm25 delete: survivors only, STALE stats until a full fold recomputes them (Lucene deleted-doc semantics)") {
    import graft.index.IncrementalBm25
    import spark.implicits._
    val all = Tables.documents(spark, Sf0001)
    val root = Files.createTempDirectory("graft-bm25-del").toString + "/i"
    IncrementalBm25.init(all.where(col("doc_id") % 2 === 0), "doc_id", "text", root)
    IncrementalBm25.append(all.where(col("doc_id") % 2 === 1), "doc_id", "text", root)
    val terms = Seq("data", "query")
    def hits(r: String) = IncrementalBm25.topK(spark, r, "doc_id", terms, 500)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val before = hits(root)
    val dels = before.take(3).map(_._1)
    IncrementalBm25.delete(dels.toDF("doc_id"), "doc_id", root, tag = Some("d1"))

    // deleted docs leave results NOW; survivors keep their old scores —
    // stats are stale by design (df still counts the deleted docs)
    val after = hits(root)
    assert(after == before.filterNot(h => dels.contains(h._1)))
    // idempotent replay
    IncrementalBm25.delete(dels.toDF("doc_id"), "doc_id", root, tag = Some("d1"))
    assert(hits(root) == after)

    // the full fold reclaims postings AND recomputes stats: scores now
    // equal a FRESH index built over the survivors only (df/n_docs/avgdl
    // caught up — the Lucene segment-merge moment)
    IncrementalBm25.tailFold(spark, root, "doc_id", keep = 0)
    val fresh = Files.createTempDirectory("graft-bm25-del-fr").toString + "/i"
    IncrementalBm25.init(all.where(!col("doc_id").isin(dels: _*)),
      "doc_id", "text", fresh)
    assert(hits(root) == hits(fresh))
    // and the folded form differs from the stale serving form on scores
    // (df moved) while agreeing on the survivor id set
    assert(hits(root).map(_._1).toSet == after.map(_._1).toSet)
  }

  test("incremental ivf delete: filtered read == rebuild without deleted (exact), full fold reclaims") {
    import graft.index.IncrementalIvf
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-ivf-del").toString + "/i"
    IncrementalIvf.init(emb.where(col("vec_id") % 2 === 0), centroids, root)
    IncrementalIvf.append(emb.where(col("vec_id") % 2 === 1), root)
    val qv = emb.where(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    val dels = IncrementalIvf.topK(spark, root, qv, 3, 5)
      .collect().map(_.getLong(0)).take(2).toSeq
    IncrementalIvf.delete(dels.toDF("vec_id"), root, tag = Some("d1"))

    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    // IVF exclusion IS rebuild semantics: filtered top-k == brute IVF
    // over the corpus minus the deleted vectors
    val after = hits(IncrementalIvf.topK(spark, root, qv, 3, 10))
    val rebuilt = hits(Ann.ivfTopKAssigned(
      Ann.ivfAssign(emb.where(!col("vec_id").isin(dels: _*)), centroids),
      centroids, qv, 3, 10))
    assert(after == rebuilt && !after.exists(h => dels.contains(h._1)))

    // the full fold physically reclaims, same answers, ledger absorbed
    IncrementalIvf.tailFold(spark, root, keep = 0)
    assert(hits(IncrementalIvf.topK(spark, root, qv, 3, 10)) == after)
    assert(graft.index.SegmentStore.currentManifest(s"$root/commit").get
      .tombRebase == 1)
    assert(IncrementalIvf.readAssigned(spark, root)
      .where(col("vec_id").isin(dels: _*)).count() == 0)
  }

  test("incremental knn delete: mark-and-filter reads with rank holes, idempotent replay, reclaimFold reclaims + clears the ledger") {
    import graft.index.IncrementalKnn
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-knn-del").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val before = rows(IncrementalKnn.edges(spark, root, 5))

    // delete two ids that appear as dst at rank < 5 somewhere, so a hole
    // in the survivor's rank sequence is guaranteed
    val dels = before.filter(_._4 < 5).map(_._2).distinct.take(2)
    assert(dels.size == 2)
    IncrementalKnn.delete(dels.toDF("vec_id"), root, tag = Some("d1"))

    // reads exclude the deleted ids everywhere; survivors keep original
    // ranks (result == pre-delete edges minus deleted endpoints)
    val after = rows(IncrementalKnn.edges(spark, root, 5))
    assert(after == before.filterNot(e =>
      dels.contains(e._1) || dels.contains(e._2)))
    assert(after.exists { case (s, _, _, r) => // the hole is observable
      r > 1 && !after.exists(o => o._1 == s && o._4 == r - 1) })
    val vecIds = IncrementalKnn.vectorsAll(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dels.forall(!vecIds(_)))
    assert(IncrementalKnn.coarseAll(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet.subsetOf(vecIds))

    // at-least-once replay with the same tag is a no-op; a new tag with
    // already-deleted ids is harmless (distinct union)
    IncrementalKnn.delete(dels.toDF("vec_id"), root, tag = Some("d1"))
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == after)

    // repair + the reclaiming full fold physically reclaim: reads equal a
    // rebuild over the survivors (ranks dense — the Lucene-merge
    // analogue) and the ledger is absorbed (rebased, zero backlog)
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("r1"))
    IncrementalKnn.reclaimFold(spark, root, 5, tag = Some("f1"))
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == rows(Ann.knnGraph(
      emb.where(!col("vec_id").isin(dels: _*)), centroids, 3, 5)))
    val st = IncrementalKnn.stats(spark, root)
    assert(st("tomb_rebase") == st("tombstone_ledger_version") &&
      st("n_tombstoned_ids") == 0L, st.toString)
    assert(IncrementalKnn.vectorsAll(spark, root).count() == vecIds.size)
  }

  test("incremental knn repair: post-delete holes refill to EXACTLY the rebuild-without-deleted graph, delta-cost") {
    import graft.index.IncrementalKnn
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-knn-rep").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val before = rows(IncrementalKnn.edges(spark, root, 5))
    // delete ids that appear as dsts (guaranteed holes) AND as srcs
    val dels = before.filter(_._4 < 5).map(_._2).distinct.take(3)
    IncrementalKnn.delete(dels.toDF("vec_id"), root, tag = Some("d1"))
    val holed = rows(IncrementalKnn.edges(spark, root, 5))
    assert(holed.groupBy(_._1).exists(_._2.size < 5)) // holes exist

    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("r1"))
    val repaired = rows(IncrementalKnn.edges(spark, root, 5))
    // repaired == whole rebuild over survivors (frozen centroids), dense
    val rebuilt = rows(Ann.knnGraph(
      emb.where(!col("vec_id").isin(dels: _*)), centroids, 3, 5))
    assert(repaired == rebuilt && rebuilt.nonEmpty)

    // idempotent replay; and the reclaiming fold bakes the healed graph
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("r1"))
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == repaired)
    IncrementalKnn.reclaimFold(spark, root, 5)
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == repaired)
  }

  test("incremental ivf upsert: in-place update is exact immediately; delete-then-re-add revives the id") {
    import graft.index.IncrementalIvf
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-ivf-ups").toString + "/i"
    IncrementalIvf.init(emb.where(col("vec_id") % 2 === 0), centroids, root)
    IncrementalIvf.append(emb.where(col("vec_id") % 2 === 1), root)

    // in-place: id 5 takes id 6's embedding
    val updated = emb.where(col("vec_id") === 6L)
      .select(lit(5L).as("vec_id"), col("embedding"))
    IncrementalIvf.upsert(updated, root, tag = Some("u1"))
    val qv = emb.where(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val current = emb.select(col("vec_id"), col("embedding"))
      .where(col("vec_id") =!= 5L).unionByName(updated)
    assert(hits(IncrementalIvf.topK(spark, root, qv, 3, 10)) ==
      hits(Ann.ivfTopKAssigned(Ann.ivfAssign(current, centroids),
        centroids, qv, 3, 10)))

    // delete then re-add revives (Lucene delete-then-add)
    IncrementalIvf.delete(Seq(9L).toDF("vec_id"), root, tag = Some("d1"))
    assert(IncrementalIvf.readAssigned(spark, root)
      .where(col("vec_id") === 9L).count() == 0)
    IncrementalIvf.append(emb.where(col("vec_id") === 9L)
      .select(col("vec_id"), col("embedding"), col("label")), root,
      tag = Some("a9"))
    assert(IncrementalIvf.readAssigned(spark, root)
      .where(col("vec_id") === 9L).count() == 1)
  }

  test("incremental bm25 upsert: new text serves immediately, old gone; a full fold catches the stats up to a fresh build over current") {
    import graft.index.IncrementalBm25
    import spark.implicits._
    val all = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-bm25-ups").toString + "/i"
    IncrementalBm25.init(all.where(col("doc_id") % 2 === 0), "doc_id", "text", root)
    IncrementalBm25.append(all.where(col("doc_id") % 2 === 1), "doc_id", "text", root)

    // replace doc 3's text with a unique marker token
    val updated = Seq((3L, "zzzuniquemarker zzzuniquemarker"))
      .toDF("doc_id", "text")
    IncrementalBm25.upsert(updated, "doc_id", "text", root, tag = Some("u1"))
    def hits(r: String, terms: Seq[String]) = IncrementalBm25
      .topK(spark, r, "doc_id", terms, 500)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    // the new text is searchable under the SAME id, and no query can
    // return the OLD version (its postings are dead): the only doc-3
    // rows any term search sees are the marker's
    assert(hits(root, Seq("zzzuniquemarker")).map(_._1) == Seq(3L))
    assert(!hits(root, Seq("data", "query")).exists(_._1 == 3L))

    // the full fold recomputes the stats from survivors: scores equal a
    // FRESH index over the current texts
    IncrementalBm25.tailFold(spark, root, "doc_id", keep = 0)
    val fresh = Files.createTempDirectory("graft-bm25-ups-fr").toString + "/i"
    IncrementalBm25.init(
      all.where(col("doc_id") =!= 3L).unionByName(updated), "doc_id", "text", fresh)
    assert(hits(root, Seq("data", "query")) == hits(fresh, Seq("data", "query")))
    assert(hits(root, Seq("zzzuniquemarker")).map(_._1) == Seq(3L))
  }

  test("incremental knn upsert: same-id in-place update + repair == rebuild with current vectors; reads serve the new version") {
    import graft.index.IncrementalKnn
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-knn-ups").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)

    // update ids 5 and 20 IN PLACE to their +1 neighbor's embedding
    val updated = emb.where(col("vec_id").isin(6L, 21L))
      .select((col("vec_id") - 1).as("vec_id"), col("embedding"))
    IncrementalKnn.upsert(updated, root, 3, 5, tag = Some("u1"))
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("ur1"))

    // vectorsAll serves exactly ONE row per id, with the NEW embedding
    val vecs = IncrementalKnn.vectorsAll(spark, root)
    assert(vecs.count() == emb.count())
    val got5 = vecs.where(col("vec_id") === 5L)
      .collect().map(_.getSeq[Float](1))
    val want5 = emb.where(col("vec_id") === 6L)
      .collect().map(_.getSeq[Float](1))
    assert(got5.length == 1 && got5.head == want5.head)

    // merged graph == rebuild over CURRENT vectors (frozen centroids)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val current = emb.select(col("vec_id"), col("embedding"))
      .where(!col("vec_id").isin(5L, 20L)).unionByName(updated)
    val served = rows(IncrementalKnn.edges(spark, root, 5))
    val rebuilt = rows(Ann.knnGraph(current, centroids, 3, 5))
    assert(served == rebuilt && rebuilt.nonEmpty)

    // redelivery of the same upsert tag is a no-op
    IncrementalKnn.upsert(updated, root, 3, 5, tag = Some("u1"))
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == served)

    // the reclaiming fold bakes the current state; ledger absorbed,
    // rebuild-exact
    IncrementalKnn.reclaimFold(spark, root, 5)
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == served)
    assert(IncrementalKnn.vectorsAll(spark, root).count() == emb.count())
  }

  test("incremental knn retrain: fresh kmeans centroids, rebuilt graph == knnGraph over live vectors") {
    import graft.index.IncrementalKnn
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-knn-rt").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    IncrementalKnn.delete(Seq(5L, 11L).toDF("vec_id"), root, tag = Some("d"))

    val retrained = Files.createTempDirectory("graft-knn-rt2").toString + "/g"
    IncrementalKnn.retrain(spark, root, retrained,
      numCentroids = 8, nprobe = 3, k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // serves exactly knnGraph over the LIVE vectors vs the re-fit
    // centroids; deleted ids are physically out, fresh ledger
    val live = emb.where(!col("vec_id").isin(5L, 11L))
    val newCent = spark.read.parquet(s"$retrained/centroids")
    assert(newCent.count() == 8)
    val served = rows(IncrementalKnn.edges(spark, retrained, 5))
    val rebuilt = rows(Ann.knnGraph(live, newCent, 3, 5))
    assert(served == rebuilt && rebuilt.nonEmpty)
    assert(!served.exists(e => e._1 == 5L || e._2 == 5L))
    assert(IncrementalKnn.vectorsAll(spark, retrained).count() == live.count())
  }

  test("incremental knn delete AFTER repair: ledger-clock coverage re-repairs, holes stay visible meanwhile (r10 ADVICE)") {
    // delete -> repair -> delete with NO intervening append: deletes
    // never bump the index version, so a segment-horizon coverage check
    // would treat the second delete as already covered — srcs whose
    // repair rows it killed would never be re-repaired and the served
    // graph would silently diverge from the rebuild. Coverage now runs
    // on the tombstone LEDGER's version clock (repair segments carry the
    // `tomb_v` stamp they observed).
    import graft.index.IncrementalKnn
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-knn-drd").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val before = rows(IncrementalKnn.edges(spark, root, 5))

    val delsA = before.filter(_._4 < 5).map(_._2).distinct.take(2)
    IncrementalKnn.delete(delsA.toDF("vec_id"), root, tag = Some("d1"))
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("r1"))
    val repaired = rows(IncrementalKnn.edges(spark, root, 5))

    // second delete: dsts at rank < 5 in the REPAIRED graph (so repair
    // rows are among the killed), disjoint from the first set
    val delsB = repaired.filter(e => e._4 < 5 && !delsA.contains(e._2))
      .map(_._2).distinct.take(2)
    assert(delsB.size == 2)
    IncrementalKnn.delete(delsB.toDF("vec_id"), root, tag = Some("d2"))
    val allDels = delsA ++ delsB

    // BEFORE the second repair: no dead endpoint is served, and the new
    // holes are VISIBLE (stale srcs fall back to rank-then-filter over
    // their stored rows — stored below-top-k rows must NOT silently
    // promote into dense ranks)
    val between = rows(IncrementalKnn.edges(spark, root, 5))
    assert(!between.exists(e => allDels.contains(e._1) || allDels.contains(e._2)))
    assert(between.exists { case (s, _, _, r) =>
      r > 1 && !between.exists(o => o._1 == s && o._4 == r - 1) })

    // the second repair must actually fire (ledger clock: needT=2 >
    // covT=1 for the re-holed srcs) and restore rebuild-exactness
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("r2"))
    val healed = rows(IncrementalKnn.edges(spark, root, 5))
    val rebuilt = rows(Ann.knnGraph(
      emb.where(!col("vec_id").isin(allDels: _*)), centroids, 3, 5))
    assert(healed == rebuilt && rebuilt.nonEmpty)
    // and the reclaiming full fold agrees
    IncrementalKnn.reclaimFold(spark, root, 5)
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == healed)
  }

  test("incremental knn retrain under a PENDING upsert horizon == rebuild over current vectors (r10 VERDICT #7)") {
    import graft.index.IncrementalKnn
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-knn-rtu").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    // upsert (versioned tombstone horizon), NO repair and NO compact —
    // retrain must read exactly one CURRENT row per id through the
    // pending horizon
    val updated = emb.where(col("vec_id") === 8L)
      .select(lit(7L).as("vec_id"), col("embedding"))
    IncrementalKnn.upsert(updated, root, 3, 5, tag = Some("u1"))

    val retrained = Files.createTempDirectory("graft-knn-rtu2").toString + "/g"
    IncrementalKnn.retrain(spark, root, retrained,
      numCentroids = 8, nprobe = 3, k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val current = emb.select(col("vec_id"), col("embedding"))
      .where(col("vec_id") =!= 7L).unionByName(updated)
    val newCent = spark.read.parquet(s"$retrained/centroids")
    val served = rows(IncrementalKnn.edges(spark, retrained, 5))
    val rebuilt = rows(Ann.knnGraph(current, newCent, 3, 5))
    assert(served == rebuilt && rebuilt.nonEmpty)
    // exactly one row per id, carrying the NEW embedding for id 7
    val vecs = IncrementalKnn.vectorsAll(spark, retrained)
    assert(vecs.count() == emb.count())
    assert(vecs.where(col("vec_id") === 7L).collect()
      .map(_.getSeq[Float](1)).head ==
      emb.where(col("vec_id") === 8L).collect().map(_.getSeq[Float](1)).head)
  }

  test("incremental knn pre-v3 root (no vecs/coarse segments) reads fall back to assign; repair works (r10 ADVICE)") {
    import graft.index.IncrementalKnn
    import graft.search.Ann
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-knn-legacy").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    // simulate a root written before knn_inc_v3: the serving-side vector
    // artifacts don't exist (e.g. a long-lived streaming graphRoot)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/vecs"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/coarse"), true)

    // vectorsAll/coarseAll serve from the assign segments
    assert(IncrementalKnn.vectorsAll(spark, root).count() == emb.count())
    val coarse = IncrementalKnn.coarseAll(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(coarse.nonEmpty && coarse.forall(_ % IncrementalKnn.CoarseMod == 0))

    // delete + repair (repair reads vectorsAll) still heal to the rebuild
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val before = rows(IncrementalKnn.edges(spark, root, 5))
    val dels = before.filter(_._4 < 5).map(_._2).distinct.take(2)
    IncrementalKnn.delete(dels.toDF("vec_id"), root, tag = Some("d1"))
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("r1"))
    val healed = rows(IncrementalKnn.edges(spark, root, 5))
    val rebuilt = rows(Ann.knnGraph(
      emb.where(!col("vec_id").isin(dels: _*)), centroids, 3, 5))
    assert(healed == rebuilt && rebuilt.nonEmpty)
    // the reclaiming fold writes its segment in the CURRENT layout — real
    // vecs/
    IncrementalKnn.reclaimFold(spark, root, 5)
    val Seq(folded) = graft.index.SegmentStore
      .currentManifest(s"$root/commit").get.entries
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/vecs/${folded.dir}")))
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == healed)
  }

  test("incremental knn mutation-sequence property: random delete/upsert/append/repair/reclaimFold keeps the serving invariants") {
    // the op space between the hand-built lifecycle tests: seeded random
    // sequences WITHOUT a repair after every delete (the CDC loop always
    // heals same-trigger; here the stale mid-states are exercised).
    // Invariants after EVERY op: no dead endpoint served, one row per
    // (src, dst), per-src ranks positive and distinct. After repair:
    // served == whole rebuild over the current vectors (dense). After
    // repair + the reclaiming full fold: the (src, dst, score) set is
    // preserved exactly and ranks come out dense (the Lucene-merge
    // re-rank).
    import graft.index.IncrementalKnn
    import graft.search.Ann
    import spark.implicits._
    val emb0 = Tables.embeddings(spark, Sf0001).where(col("vec_id") < 120)
    val centroids = emb0.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val pool = Tables.embeddings(spark, Sf0001)
      .where(col("vec_id") >= 120 && col("vec_id") < 200)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toBuffer
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq

    for (seed <- Seq(7L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val model = scala.collection.mutable.LinkedHashMap[Long, Seq[Float]]()
      emb0.collect().foreach(r => model(r.getLong(0)) = r.getSeq[Float](1))
      val root = Files.createTempDirectory(s"graft-knn-prop$seed").toString + "/g"
      IncrementalKnn.init(emb0, centroids, root, 3, 5)
      var tombstoned = false // live tombstones since the last full fold
      var opN = 0

      def modelDf = model.toSeq.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      def checkAlways(served: Seq[(Long, Long, Double, Int)]): Unit = {
        val live = model.keySet
        assert(served.forall(e => live(e._1) && live(e._2)),
          s"seed $seed op $opN: served a dead endpoint")
        assert(served.map(e => (e._1, e._2)).distinct.size == served.size,
          s"seed $seed op $opN: duplicate (src,dst)")
        served.groupBy(_._1).foreach { case (s, es) =>
          val rs = es.map(_._4)
          assert(rs.forall(_ >= 1) && rs.distinct.size == rs.size,
            s"seed $seed op $opN src $s: bad ranks $rs") }
      }

      for (_ <- 0 until 7) {
        opN += 1
        rnd.nextInt(5) match {
          case 0 => // delete up to 2 live non-centroid ids
            val live = model.keys.filter(_ >= 10).toIndexedSeq
            val ids = rnd.shuffle(live).take(1 + rnd.nextInt(2))
            if (ids.nonEmpty) {
              IncrementalKnn.delete(ids.toDF("vec_id"), root,
                tag = Some(s"p$seed-$opN"))
              ids.foreach(model.remove)
              tombstoned = true
            }
          case 1 => // upsert a live id to a pool embedding (in place)
            val live = model.keys.filter(_ >= 10).toIndexedSeq
            if (live.nonEmpty && pool.nonEmpty) {
              val id = live(rnd.nextInt(live.size))
              val (_, newEmb) = pool.remove(0)
              IncrementalKnn.upsert(
                Seq((id, newEmb)).toDF("vec_id", "embedding")
                  .select(col("vec_id"),
                    col("embedding").cast("array<float>").as("embedding")),
                root, 3, 5, tag = Some(s"p$seed-$opN"))
              model(id) = newEmb
              tombstoned = true
            }
          case 2 => // append 2 new ids
            if (pool.size >= 2) {
              val batch = Seq(pool.remove(0), pool.remove(0))
              IncrementalKnn.append(
                batch.toDF("vec_id", "embedding")
                  .select(col("vec_id"),
                    col("embedding").cast("array<float>").as("embedding")),
                root, 3, 5, tag = Some(s"p$seed-$opN"))
              batch.foreach { case (id, e) => model(id) = e }
            }
          case 3 => // repair — after it the graph must be rebuild-exact
            IncrementalKnn.repair(spark, root, 3, 5, tag = Some(s"p$seed-$opN"))
            if (tombstoned) {
              val served = rows(IncrementalKnn.edges(spark, root, 5))
              val rebuilt = rows(Ann.knnGraph(modelDf, centroids, 3, 5))
              assert(served == rebuilt,
                s"seed $seed op $opN: post-repair != rebuild")
            }
          case _ => // heal-then-fold (the CDC loop's discipline: folding
            // a HOLED graph would physically reclaim the dead-row evidence
            // and bake the degraded top-k in — reclaimFold refuses exactly
            // that); after the fold: triple set preserved vs the healed
            // read, ranks dense, ledger absorbed, rebuild-exact
            IncrementalKnn.repair(spark, root, 3, 5, tag = Some(s"p$seed-$opN-r"))
            val before = rows(IncrementalKnn.edges(spark, root, 5))
            IncrementalKnn.reclaimFold(spark, root, 5, tag = Some(s"p$seed-$opN-f"))
            val after = rows(IncrementalKnn.edges(spark, root, 5))
            assert(after.map(e => (e._1, e._2, e._3)).toSet ==
              before.map(e => (e._1, e._2, e._3)).toSet,
              s"seed $seed op $opN: full fold changed the edge set")
            after.groupBy(_._1).foreach { case (_, es) =>
              assert(es.map(_._4).sorted == (1 to es.size).toSeq,
                s"seed $seed op $opN: full fold ranks not dense") }
            assert(after == rows(Ann.knnGraph(modelDf, centroids, 3, 5)),
              s"seed $seed op $opN: healed full fold != rebuild")
            tombstoned = false
        }
        checkAlways(rows(IncrementalKnn.edges(spark, root, 5)))
      }
      // close each sequence with the healing contract end-to-end
      IncrementalKnn.repair(spark, root, 3, 5, tag = Some(s"p$seed-final"))
      val served = rows(IncrementalKnn.edges(spark, root, 5))
      val rebuilt = rows(Ann.knnGraph(modelDf, centroids, 3, 5))
      assert(served == rebuilt && rebuilt.nonEmpty,
        s"seed $seed: final repair != rebuild")
    }
  }

  test("incremental knn graph: grown == whole-corpus rebuild, reclaimFold == grown") {
    import graft.index.IncrementalKnn
    import graft.search.Ann
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq

    // grow in three installments (ids interleaved so every append creates
    // both new-src and old-src-gains-new-dst candidates)
    val root = Files.createTempDirectory("graft-knn-inc").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 3 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 3 === 1), root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 3 === 2), root, 3, 5)
    assert(IncrementalKnn.version(root) == 3)

    val rebuilt = rows(Ann.knnGraph(emb, centroids, 3, 5))
    val grown = rows(IncrementalKnn.edges(spark, root, 5))
    assert(grown == rebuilt && rebuilt.nonEmpty)

    // the full fold leaves one segment, merged graph unchanged
    IncrementalKnn.reclaimFold(spark, root, 5)
    assert(IncrementalKnn.fanIn(root) == 1 && IncrementalKnn.version(root) == 4)
    assert(rows(IncrementalKnn.edges(spark, root, 5)) == grown)

    // append-before-init is refused
    intercept[IllegalArgumentException] {
      IncrementalKnn.append(emb,
        Files.createTempDirectory("graft-knn-empty").toString, 3, 5)
    }
  }

  test("filteredAnn router: pre-filter under the crossover, post-filter above, each == its direct strategy") {
    import graft.search.{Ann, SearchEngine}
    import graft.index.{IvfIndex, KnnGraphIndex}
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qv = SearchEngine.queryVec(spark, Sf0001, 0L)
    val docs = Tables.documents(spark, Sf0001)

    // source='src3' passes ~5% — far below the 0.5 default crossover:
    // the router must take the pre-filter IVF side, value-identical to
    // driving that strategy directly
    val (route1, df1) = SearchEngine.filteredAnn(
      spark, Sf0001, 0L, "source", "src3", 10)
    assert(route1 == "prefilter_ivf", route1)
    val info = IvfIndex.ensure(spark, Sf0001)
    val allowed = docs.where(col("source") === "src3")
      .select(col("doc_id").as("vec_id"))
    val direct1 = Ann.ivfTopKAssigned(
      spark.read.parquet(info.assignedPath).join(allowed, Seq("vec_id")),
      spark.read.parquet(info.centroidsPath), qv, 3, 10)
    assert(pairs(df1) == pairs(direct1) && pairs(df1).nonEmpty)

    // lang='en' passes ~39% — above a 0.2 crossover: the router must
    // take the post-filter walk side (the reference's own semantics),
    // value-identical to the direct oversampled walk + payload filter
    val (route2, df2) = SearchEngine.filteredAnn(
      spark, Sf0001, 0L, "lang", "en", 10, crossover = 0.2)
    assert(route2 == "postfilter_graph", route2)
    val emb = Tables.embeddings(spark, Sf0001)
    val edges = KnnGraphIndex.edges(spark, Sf0001, 3, 5)
    val walked = Ann.graphTopK(edges, emb, qv,
      Ann.hierEntries(emb, qv, 16, 3), beam = 8, hops = 3, k = 30)
    val allowed2 = docs.where(col("lang") === "en").select(col("doc_id").as("id"))
    val direct2 = walked.join(allowed2, Seq("id"))
      .orderBy(col("score").desc, col("id").asc).limit(10)
    assert(pairs(df2) == pairs(direct2) && pairs(df2).nonEmpty)

    // and the same filter routes the OTHER way on the other side of its
    // crossover — the probe, not the filter name, decides
    val (route3, _) = SearchEngine.filteredAnn(
      spark, Sf0001, 0L, "lang", "en", 10, crossover = 0.5)
    assert(route3 == "prefilter_ivf", route3)

    // the selectivity probe is a CATALOG-STATS lookup (r10 VERDICT #4):
    // its plan reads the prebuilt fieldstats artifact, never the
    // documents table — at 100 TB the probe must not be a corpus scan
    import graft.index.FieldStats
    val probeRoots = scanRoots(FieldStats.probe(spark, Sf0001, "source", "src3").get)
    assert(probeRoots.exists(_.contains(FieldStats.Name)), probeRoots)
    assert(!probeRoots.exists(_.endsWith("documents.parquet")), probeRoots)
    // artifact numbers == the scan probe's numbers
    val n = docs.count().toDouble
    val m = docs.where(col("source") === "src3").count().toDouble
    assert(FieldStats.passFraction(spark, Sf0001, "source", "src3")
      .contains(m / n))
    // absent value -> genuine 0 (the build saw every row); unprofiled
    // field -> None (callers fall back to the scan probe)
    assert(FieldStats.passFraction(spark, Sf0001, "source", "zz_nope")
      .contains(0.0))
    assert(FieldStats.passFraction(spark, Sf0001, "text", "x").isEmpty)
    // unprofiled-field routing still works end-to-end via the fallback
    val (route4, df4) = SearchEngine.filteredAnn(
      spark, Sf0001, 0L, "n_chars",
      docs.select("n_chars").head().get(0).toString, 10)
    assert(route4 == "prefilter_ivf" && df4.columns.sameElements(Array("id", "score")))
  }

  test("IncrementalKnn.stats: clocks, tombstone backlog, and the stale-src health signal across a delete/repair cycle") {
    import graft.index.IncrementalKnn
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-stats").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    val clean = IncrementalKnn.stats(spark, root)
    assert(clean("index_version") == 2L && clean("tombstone_ledger_version") == 0L
      && clean("repair_ledger_version") == 0L && clean("n_tombstoned_ids") == 0L
      && clean("n_stale_srcs") == 0L, clean.toString)

    // delete two served dsts: backlog = 2, and the holed srcs show up as
    // stale (no repairs yet — holes with no repairs are still holes)
    val dels = IncrementalKnn.edges(spark, root, 5).collect()
      .filter(_.getInt(3) < 5).map(_.getLong(1)).distinct.take(2)
    IncrementalKnn.delete(dels.toSeq.toDF("vec_id"), root, tag = Some("st1"))
    val holed = IncrementalKnn.stats(spark, root)
    assert(holed("tombstone_ledger_version") == 1L
      && holed("n_tombstoned_ids") == 2L
      && holed("n_stale_srcs") > 0L, holed.toString)

    // repair: the health signal returns to 0 (every read rebuild-exact)
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("st2"))
    val healed = IncrementalKnn.stats(spark, root)
    assert(healed("repair_ledger_version") == 1L
      && healed("n_stale_srcs") == 0L
      && healed("n_tombstoned_ids") == 2L, healed.toString)
  }

  test("SegmentStore.snapshot: a mutated root's snapshot serves identical reads, is isolated from later mutations, and never launders uncommitted orphans") {
    import graft.index.{IncrementalKnn, SegmentStore}
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-snap").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    def rows(r: String) = IncrementalKnn.edges(spark, r, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))).toSeq
    val dels = rows(root).filter(_._4 < 5).map(_._2).distinct.take(2)
    IncrementalKnn.delete(dels.toDF("vec_id"), root, tag = Some("sd1"))
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("sr1"))
    IncrementalKnn.upsert(
      emb.where(col("vec_id") === 4)
        .select(col("vec_id"), col("embedding")), root, 3, 5,
      tag = Some("su1"))
    val live = rows(root)

    // plant an UNCOMMITTED orphan version dir in the source (a crashed
    // writer's leavings): data present, no marker
    val orphan = new java.io.File(s"$root/assign/5/v=99")
    orphan.mkdirs()
    java.nio.file.Files.writeString(
      orphan.toPath.resolve("part-junk.parquet"), "not parquet")

    val snap = Files.createTempDirectory("graft-snap-dst").toString + "/g"
    SegmentStore.snapshot(root, snap)
    // the copy serves bit-identical reads (segments, tombstones, repairs
    // — every ledger came across at its committed version)
    assert(rows(snap) == live && live.nonEmpty)
    // the orphan copied WITHOUT a marker: still invisible to version()
    assert(SegmentStore.version(s"$snap/assign/5") ==
      SegmentStore.version(s"$root/assign/5"))
    assert(new java.io.File(s"$snap/assign/5/v=99/part-junk.parquet").exists())
    assert(!new java.io.File(s"$snap/assign/5/v=99/_COMMITTED").exists())

    // isolation: mutate the SOURCE after the snapshot — the snapshot's
    // reads must not move
    val moreDels = live.filter(e => e._4 < 5 && !dels.contains(e._2))
      .map(_._2).distinct.take(1)
    IncrementalKnn.delete(moreDels.toDF("vec_id"), root, tag = Some("sd2"))
    assert(rows(snap) == live)
    assert(rows(root) != live)

    // restore = the same copy back to a fresh path; it serves the
    // snapshot-time state
    val restored = Files.createTempDirectory("graft-snap-rst").toString + "/g"
    SegmentStore.snapshot(snap, restored)
    assert(rows(restored) == live)

    // guard: refusing to overwrite a non-empty destination
    intercept[IllegalArgumentException] {
      SegmentStore.snapshot(root, snap)
    }

    // missingMarkers: the restore-time completeness certificate — a full
    // copy mirrors every protocol marker; a torn copy names what's gone.
    // (snap→restored, not root→snap: the source root was mutated after
    // the snapshot, so it legitimately carries markers snap lacks.)
    assert(SegmentStore.missingMarkers(snap, restored).isEmpty)
    val torn = new java.io.File(s"$restored/tombs/commit/v=1/_COMMITTED")
    assert(torn.exists() && torn.delete())
    assert(SegmentStore.missingMarkers(snap, restored) ==
      Seq("tombs/commit/v=1/_COMMITTED"))
  }

  test("SegmentStore.orderForCopy: ready marker dead last; tombstone/repair ledger markers before segment markers; data first") {
    import graft.index.SegmentStore
    import org.apache.hadoop.fs.Path
    // Shuffled listing of a representative root: segment data + markers,
    // both ledgers' markers, an orphan, and the catalog ready marker.
    val files = Seq(
      "g/_GRAFT_INDEX_READY",
      "g/assign/5/v=2/_COMMITTED",
      "g/tombs/seg/0/part-0.parquet",
      "g/assign/5/v=1/_COMMITTED",
      "g/tombs/commit/v=1/_COMMITTED",
      "g/tombs/commit/v=2/_COMMITTED",
      "g/repairs/commit/v=1/_COMMITTED",
      "g/assign/5/v=1/part-0.parquet",
      "g/repairs/seg/0/part-0.parquet",
      "g/assign/5/v=99/part-junk.parquet",
      "g/_WRITER_LEASE"
    ).map(new Path(_))
    val ordered = SegmentStore.orderForCopy(files).map(_.toString)
    val idx = ordered.zipWithIndex.toMap
    val dataIdx = Seq("g/tombs/seg/0/part-0.parquet",
      "g/assign/5/v=1/part-0.parquet", "g/repairs/seg/0/part-0.parquet",
      "g/assign/5/v=99/part-junk.parquet").map(idx)
    val ledgerIdx = Seq("g/tombs/commit/v=1/_COMMITTED",
      "g/tombs/commit/v=2/_COMMITTED",
      "g/repairs/commit/v=1/_COMMITTED").map(idx)
    val segIdx = Seq("g/assign/5/v=1/_COMMITTED",
      "g/assign/5/v=2/_COMMITTED").map(idx)
    // every data file before every marker
    assert(dataIdx.max < ledgerIdx.min)
    // every tombstone/repair ledger marker before every segment marker:
    // a tear mid-marker-pass can over-delete but never resurrect
    assert(ledgerIdx.max < segIdx.min)
    // within a commit base, markers copy version-DESCENDING: a torn
    // marker pass resolves each base to its TRUE list-time version or
    // to 0 — never to an old version with a possibly-dangling manifest
    assert(idx("g/assign/5/v=2/_COMMITTED") < idx("g/assign/5/v=1/_COMMITTED"))
    assert(idx("g/tombs/commit/v=2/_COMMITTED")
      < idx("g/tombs/commit/v=1/_COMMITTED"))
    // the catalog ready marker is the final file of the whole copy
    assert(idx("g/_GRAFT_INDEX_READY") == ordered.size - 1)
    // transient writer leases are never copied; nothing else dropped or
    // duplicated
    assert(!ordered.contains("g/_WRITER_LEASE"))
    assert(ordered.sorted ==
      files.map(_.toString).filterNot(_ == "g/_WRITER_LEASE").sorted)
  }

  test("incremental ivf tail-fold: fold == pre-fold reads, prefix untouched, horizons sound across the fold, full fold rebases the ledger") {
    import graft.index.{IncrementalIvf, SegmentStore}
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val qv = emb.where(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    val root = Files.createTempDirectory("graft-ivf-tf").toString + "/idx"
    IncrementalIvf.init(emb.where(col("vec_id") % 3 === 0), centroids, root)
    IncrementalIvf.append(emb.where(col("vec_id") % 3 === 1), root)
    IncrementalIvf.append(emb.where(col("vec_id") % 3 === 2), root)
    IncrementalIvf.delete(emb.where(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id")), root, tag = Some("tfd1"))
    val updated = emb.as("a")
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("nemb")),
        col("a.vec_id") + 1 === col("nid"))
      .where(pmod(col("a.vec_id"), lit(11)) === 5)
      .select(col("a.vec_id").as("vec_id"), col("nemb").as("embedding"))
    IncrementalIvf.upsert(updated, root, tag = Some("tfu1"))

    def reads(r: String) = IncrementalIvf.readAssigned(spark, r)
      .select(col("vec_id"), col("cid")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    def top(r: String) = IncrementalIvf.topK(spark, r, qv, nprobe = 3, k = 15)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val pre = reads(root); val preTop = top(root)
    assert(IncrementalIvf.version(root) == 4 && IncrementalIvf.fanIn(root) == 4)

    def fileprint(dir: String): Set[(String, Long, Long)] = {
      val base = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    }
    val prefixBefore = fileprint(s"$root/seg/0")
    // a long-running reader: planned against the PRE-fold manifest, its
    // file listing already fixed — must still collect after the fold
    // publishes (retain-one-generation GC, the no-drain contract)
    val preFrame = IncrementalIvf.readAssigned(spark, root)
      .select(col("vec_id"), col("cid"))

    // tail-fold keeping the big base: segments 1..3 fold into seg/4
    IncrementalIvf.tailFold(spark, root, keep = 1, tag = Some("tf1"))
    IncrementalIvf.tailFold(spark, root, keep = 1, tag = Some("tf1")) // idempotent
    assert(IncrementalIvf.version(root) == 5 && IncrementalIvf.fanIn(root) == 2)
    assert(reads(root) == pre && top(root) == preTop && pre.nonEmpty)
    // the write-amplification contract: the kept prefix was NOT rewritten
    assert(fileprint(s"$root/seg/0") == prefixBefore)
    // folded-away tail dirs RETAINED one fold generation (no post-publish
    // sweep): the pre-fold frame reads exactly its list-time state
    assert(new java.io.File(s"$root/seg/1").exists()
      && new java.io.File(s"$root/seg/2").exists()
      && new java.io.File(s"$root/seg/3").exists()
      && new java.io.File(s"$root/seg/4").exists())
    assert(preFrame.collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet == pre)

    // append AFTER the fold serves alongside the folded rows
    val extra = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    IncrementalIvf.append(extra, root, tag = Some("tfa1"))
    assert(IncrementalIvf.fanIn(root) == 3)
    val extraIds = extra.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(reads(root).map(_._1) == pre.map(_._1) ++ extraIds)

    // delete AFTER the fold kills a row living IN the folded segment
    // (horizon algebra: post-fold horizons exceed the folded logical seg)
    val victim = pre.map(_._1)
      .filter(id => id % 3 == 1 && id % 7 != 3 && id % 11 != 5).min
    IncrementalIvf.delete(Seq(victim).toDF("vec_id"), root, tag = Some("tfd2"))
    val afterVictim = reads(root)
    val afterVictimTop = top(root)
    assert(afterVictim.map(_._1) == pre.map(_._1) ++ extraIds - victim)

    // FULL fold (keep = 0): every tombstone baked, ledger rebased — the
    // read stops paying for ledger history without resetting its clock.
    // Its GC pass also reclaims the FIRST fold's tail dirs: they are now
    // outside the last two committed manifests (grace period over).
    IncrementalIvf.tailFold(spark, root, keep = 0, tag = Some("tf2"))
    assert(IncrementalIvf.fanIn(root) == 1)
    assert(!new java.io.File(s"$root/seg/1").exists()
      && !new java.io.File(s"$root/seg/2").exists()
      && !new java.io.File(s"$root/seg/3").exists())
    val m = SegmentStore.currentManifest(s"$root/commit").get
    assert(m.tombRebase == SegmentStore.tombVersion(s"$root/tombs")
      && m.tombRebase == 3, m.toString) // tfd1, tfu1's tombstone, tfd2
    assert(SegmentStore.tombIds(spark, s"$root/tombs", m.tombRebase).isEmpty)
    assert(SegmentStore.tombIds(spark, s"$root/tombs").nonEmpty) // history kept
    assert(reads(root) == afterVictim && top(root) == afterVictimTop)

    // mutations still work post-full-fold: a fresh delete kills folded rows
    val victim2 = (afterVictim.map(_._1) - victim)
      .filter(id => id % 3 == 2 && id % 7 != 3 && id % 11 != 5).min
    IncrementalIvf.delete(Seq(victim2).toDF("vec_id"), root, tag = Some("tfd3"))
    assert(reads(root).map(_._1) == afterVictim.map(_._1) - victim2)

    // crash-window debris: an unreferenced physical dir is invisible to
    // reads and swept by the next fold's GC pass (even a no-op fold)
    val junk = new java.io.File(s"$root/seg/77")
    junk.mkdirs()
    java.nio.file.Files.writeString(
      junk.toPath.resolve("part-junk.parquet"), "not parquet")
    assert(reads(root).map(_._1) == afterVictim.map(_._1) - victim2)
    IncrementalIvf.tailFold(spark, root, keep = 1, tag = Some("tf3"))
    assert(!junk.exists())

    // the folded manifest root serves exactly a fresh positional root
    // built over its surviving rows
    val fresh = Files.createTempDirectory("graft-ivf-tf-fr").toString + "/idx"
    IncrementalIvf.init(IncrementalIvf.readAssigned(spark, root)
      .select(col("vec_id"), col("embedding")), centroids, fresh)
    assert(reads(fresh) == reads(root) && top(fresh) == top(root))
  }

  test("SegmentStore.tieredFoldStart: similar-size runs fold together; a dominant base is left alone until the fan-in bound forces it") {
    import graft.index.SegmentStore.tieredFoldStart
    // fresh equal-size batches behind a dominant base: fold the batches,
    // never re-absorb the base (the naive keep=1 policy would rewrite
    // the accumulated tail every trigger)
    assert(tieredFoldStart(Seq(1000L, 10L, 10L, 10L), 1, 3) == 1)
    // a formed ladder: the mid tier (50) is outside ratio of the fresh
    // batches (10s) — fold only the batches, ladder preserved
    assert(tieredFoldStart(Seq(1000L, 50L, 10L, 10L), 1, 3) == 2)
    // the tail grown into the mid tier's size class absorbs it
    assert(tieredFoldStart(Seq(1000L, 50L, 30L, 20L), 1, 3) == 1)
    // all-equal: absorb to the keep floor
    assert(tieredFoldStart(Seq(10L, 10L, 10L, 10L), 1, 3) == 1)
    // hard fan-in bound beats the ratio gate: maxSegments 2 forces the
    // fold past the dissimilar 90
    assert(tieredFoldStart(Seq(1000L, 400L, 90L, 10L), 1, 2) == 1)
    // a triggered fold always merges at least two segments
    assert(tieredFoldStart(Seq(1000L, 400L, 90L, 10L), 2, 3) == 2)
    // keep floors the start even under the hard bound
    assert(tieredFoldStart(Seq(1000L, 10L), 1, 1) == 1)
    // zero-size segments (empty folds) don't divide by zero
    assert(tieredFoldStart(Seq(100L, 0L, 0L), 1, 2) == 1)
  }

  test("incremental knn tail-fold: pure reorganization — every read identical to an unfolded twin through delete/upsert/repair/append, fold-of-fold composes") {
    import graft.index.{IncrementalKnn, SegmentStore}
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    // two roots receive IDENTICAL mutations; only one tail-folds between
    // them — the mixed-horizon fold claims byte-equivalent reads always
    val folded = Files.createTempDirectory("graft-knn-tf").toString + "/g"
    val twin = Files.createTempDirectory("graft-knn-tw").toString + "/g"
    def build(r: String): Unit = {
      IncrementalKnn.init(emb.where(col("vec_id") % 3 === 0), centroids, r, 3, 5)
      IncrementalKnn.append(emb.where(col("vec_id") % 3 === 1), r, 3, 5)
      IncrementalKnn.append(emb.where(col("vec_id") % 3 === 2), r, 3, 5)
    }
    build(folded); build(twin)
    def rows(r: String) = IncrementalKnn.edges(spark, r, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))).toSeq
    def vecs(r: String) = IncrementalKnn.vectorsAll(spark, r)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def both(f: String => Unit): Unit = { f(folded); f(twin) }

    // mutate BEFORE the fold: delete two ids, repair, upsert one id
    val dels = rows(twin).filter(_._4 < 5).map(_._2).distinct.take(2)
    both(r => IncrementalKnn.delete(dels.toDF("vec_id"), r, tag = Some("ktf_d1")))
    both(r => IncrementalKnn.repair(spark, r, 3, 5, tag = Some("ktf_r1")))
    both(r => IncrementalKnn.upsert(
      emb.where(col("vec_id") === 4)
        .select(col("vec_id"), col("embedding")), r, 3, 5, tag = Some("ktf_u1")))
    assert(rows(folded) == rows(twin) && rows(twin).nonEmpty)

    // the fold: prefix untouched, fan-in down, every read identical
    def fileprint(dir: String): Set[(String, Long, Long)] = {
      val base = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    }
    val prefixBefore = fileprint(s"$folded/assign/0") ++ fileprint(s"$folded/edges/0")
    IncrementalKnn.tailFold(spark, folded, keep = 1, tag = Some("ktf_f1"))
    IncrementalKnn.tailFold(spark, folded, keep = 1, tag = Some("ktf_f1")) // idempotent
    assert(IncrementalKnn.fanIn(folded) == 2 && IncrementalKnn.fanIn(twin) == 4)
    assert(rows(folded) == rows(twin))
    assert(vecs(folded) == vecs(twin))
    assert(IncrementalKnn.coarseAll(spark, folded).count()
      == IncrementalKnn.coarseAll(spark, twin).count())
    assert(fileprint(s"$folded/assign/0") ++ fileprint(s"$folded/edges/0")
      == prefixBefore)
    // folded-away dirs retained one fold generation (no post-publish
    // sweep — in-flight readers finish; the NEXT fold's GC reclaims)
    assert(new java.io.File(s"$folded/edges/1").exists()
      && new java.io.File(s"$folded/edges/2").exists()
      && new java.io.File(s"$folded/edges/3").exists())
    // health stats identical (mutation clocks aside — the fold bumps the
    // version): backlog and staleness read the same
    val sf0 = IncrementalKnn.stats(spark, folded)
    val st0 = IncrementalKnn.stats(spark, twin)
    assert(sf0("n_tombstoned_ids") == st0("n_tombstoned_ids")
      && sf0("n_stale_srcs") == st0("n_stale_srcs"))

    // mutations AFTER the fold stay equivalent: delete a vector living
    // IN the folded segment, then repair, then append fresh vectors
    val victim = rows(twin).filter(e => e._4 < 5 && e._2 % 3 == 1
      && !dels.contains(e._2) && e._2 != 4).map(_._2).distinct.head
    both(r => IncrementalKnn.delete(Seq(victim).toDF("vec_id"), r,
      tag = Some("ktf_d2")))
    assert(rows(folded) == rows(twin)) // visible holes identical
    both(r => IncrementalKnn.repair(spark, r, 3, 5, tag = Some("ktf_r2")))
    assert(rows(folded) == rows(twin)) // healed identically
    val extra = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    both(r => IncrementalKnn.append(extra, r, 3, 5, tag = Some("ktf_a1")))
    assert(rows(folded) == rows(twin) && vecs(folded) == vecs(twin))

    // fold-of-fold: the tail now includes the mixed-horizon segment —
    // stored __seg columns compose with manifest-tagged ones. Its GC
    // pass reclaims the FIRST fold's tail dirs (grace period over:
    // outside the last two committed manifests).
    IncrementalKnn.tailFold(spark, folded, keep = 1, tag = Some("ktf_f2"))
    assert(IncrementalKnn.fanIn(folded) == 2)
    assert(rows(folded) == rows(twin))
    assert(!new java.io.File(s"$folded/edges/1").exists()
      && !new java.io.File(s"$folded/edges/2").exists()
      && !new java.io.File(s"$folded/edges/3").exists())

    // the deep clean composes: both reclaiming full folds serve the same
    // graph
    both(r => IncrementalKnn.reclaimFold(spark, r, 5, tag = Some("ktf_rf")))
    assert(rows(folded) == rows(twin) && rows(folded).nonEmpty)

    // snapshot/restore of a MANIFEST root: the manifest payload is data
    // inside the commit version dir, so it copies before its marker and
    // the restored tree resolves the same segment list — reads equal
    val snap = Files.createTempDirectory("graft-knn-tf-snap").toString + "/g"
    SegmentStore.snapshot(folded, snap)
    assert(SegmentStore.currentManifest(s"$snap/commit")
      == SegmentStore.currentManifest(s"$folded/commit"))
    assert(rows(snap) == rows(folded))
    // the two restore-time certificates both pass on a full copy: every
    // marker mirrored, every manifest-referenced dir present — and the
    // snapshot's quiesce lease was released (the copy is mutable)
    assert(SegmentStore.missingMarkers(folded, snap).isEmpty)
    assert(SegmentStore.danglingManifestRefs(snap).isEmpty)
    assert(!new java.io.File(s"$snap/${SegmentStore.LeaseFile}").exists()
      && !new java.io.File(s"$folded/${SegmentStore.LeaseFile}").exists())
    IncrementalKnn.append(
      emb.where(col("vec_id") < 3)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding")),
      snap, 3, 5, tag = Some("ktf_snap_a"))
    assert(rows(snap) != rows(folded))
    // tamper: sweep a manifest-referenced dir — the dangling-ref
    // certificate names it (the check the restore route refuses on)
    val snapManifest = SegmentStore.currentManifest(s"$snap/commit").get
    val victimDir = snapManifest.entries.head.dir
    assert(SegmentStore.deleteTree(s"$snap/assign/$victimDir"))
    assert(SegmentStore.danglingManifestRefs(snap).nonEmpty)
  }

  test("incremental bm25 tail-fold: partial fold preserves reads + stale stats, full fold == a fresh build's stats") {
    import graft.index.{IncrementalBm25, SegmentStore}
    import spark.implicits._
    val all = Tables.documents(spark, Sf0001)
    val root = Files.createTempDirectory("graft-bm25-tf").toString + "/idx"
    IncrementalBm25.init(all.where(col("doc_id") % 2 === 0), "doc_id", "text", root)
    IncrementalBm25.append(all.where(col("doc_id") % 2 === 1), "doc_id", "text", root)
    IncrementalBm25.delete(all.where(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id")), "doc_id", root, tag = Some("btd1"))
    val updated = all.as("a")
      .join(all.select(col("doc_id").as("nid"), col("text").as("ntext")),
        col("a.doc_id") + 1 === col("nid"))
      .where(pmod(col("a.doc_id"), lit(11)) === 5 &&
        pmod(col("a.doc_id"), lit(7)) =!= 3)
      .select(col("a.doc_id").as("doc_id"), col("ntext").as("text"))
    IncrementalBm25.upsert(updated, "doc_id", "text", root, tag = Some("btu1"))

    val terms = Seq("data", "query")
    def top(r: String) = IncrementalBm25.topK(spark, r, "doc_id", terms, 12)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    def stats(r: String) = spark.read
      .parquet(s"$r/stats/v=${IncrementalBm25.version(r)}/corpus")
      .collect().map(x => (x.getLong(0), x.getLong(1))).head
    val pre = top(root); val preStats = stats(root)
    assert(IncrementalBm25.fanIn(root) == 3) // init + append + upsert's append

    // partial fold: segments 1..2 fold into one; reads and the (stale by
    // contract) stats are unchanged; the init segment is not rewritten
    def fileprint(dir: String): Set[(String, Long, Long)] = {
      val base = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    }
    val prefixBefore = fileprint(s"$root/seg/0")
    IncrementalBm25.tailFold(spark, root, "doc_id", keep = 1, tag = Some("btf1"))
    IncrementalBm25.tailFold(spark, root, "doc_id", keep = 1, tag = Some("btf1"))
    assert(IncrementalBm25.fanIn(root) == 2)
    assert(top(root) == pre && stats(root) == preStats && pre.nonEmpty)
    assert(fileprint(s"$root/seg/0") == prefixBefore)
    // retained one fold generation — the next fold's GC reclaims
    assert(new java.io.File(s"$root/seg/1").exists()
      && new java.io.File(s"$root/seg/2").exists())

    // append after the fold serves; delete after the fold kills a doc
    // living IN the folded segment
    val extra = all.where(col("doc_id") < 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    IncrementalBm25.append(extra, "doc_id", "text", root, tag = Some("bta1"))
    assert(IncrementalBm25.fanIn(root) == 3)
    val victim = pre.map(_._1).filter(id => id % 2 == 1 && id % 7 != 3).head
    IncrementalBm25.delete(Seq(victim).toDF("doc_id"), "doc_id", root,
      tag = Some("btd2"))
    assert(!top(root).exists(_._1 == victim))

    // FULL fold == the merge moment: stats recompute from survivors and
    // the result equals a fresh index built over the current documents
    IncrementalBm25.tailFold(spark, root, "doc_id", keep = 0, tag = Some("btf2"))
    assert(IncrementalBm25.fanIn(root) == 1)
    val fresh = Files.createTempDirectory("graft-bm25-tf-fr").toString + "/i"
    // (the demo deletes predate `extra`, whose ids they do not kill)
    IncrementalBm25.init(all.select(col("doc_id"), col("text"))
      .where(pmod(col("doc_id"), lit(7)) =!= 3)
      .join(updated.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(updated).unionByName(extra)
      .where(col("doc_id") =!= victim), "doc_id", "text", fresh)
    assert(top(root) == top(fresh))
    assert(stats(root) == stats(fresh))
    val m = SegmentStore.currentManifest(s"$root/stats").get
    assert(m.tombRebase == SegmentStore.tombVersion(s"$root/tombs"))
    assert(SegmentStore.tombIds(spark, s"$root/tombs", m.tombRebase).isEmpty)
    // the full fold's GC pass reclaimed the partial fold's tail dirs
    // (outside the last two committed manifests — grace period over)
    assert(!new java.io.File(s"$root/seg/1").exists()
      && !new java.io.File(s"$root/seg/2").exists())

    // the staleness gauge (the operable face of the stale-stats
    // contract): before the merge moment, stats counted the deleted docs
    // and both upsert versions; the full fold zeroed the drift
    val g = IncrementalBm25.stats(spark, root, "doc_id")
    assert(g("stats_drift_docs") == 0L && g("read_fan_in") == 1L
      && g("stats_n_docs") == g("live_n_docs"))
  }

  test("IncrementalBm25.stats: stats_drift_docs counts deleted docs + dead upsert versions until the merge moment") {
    import graft.index.IncrementalBm25
    import spark.implicits._
    val all = Tables.documents(spark, Sf0001).limit(40)
      .select(col("doc_id"), col("text")).cache()
    val n = all.count()
    val root = Files.createTempDirectory("graft-bm25-gauge").toString + "/idx"
    IncrementalBm25.init(all, "doc_id", "text", root)
    val g0 = IncrementalBm25.stats(spark, root, "doc_id")
    assert(g0("stats_n_docs") == n && g0("live_n_docs") == n
      && g0("stats_drift_docs") == 0L)
    // delete 3: stats still count them (Lucene stale-stats contract);
    // deterministic + disjoint from the upsert set below
    val dels = all.orderBy(col("doc_id").asc).limit(3).select(col("doc_id"))
    IncrementalBm25.delete(dels, "doc_id", root, tag = Some("bg_d1"))
    val g1 = IncrementalBm25.stats(spark, root, "doc_id")
    assert(g1("stats_n_docs") == n && g1("live_n_docs") == n - 3
      && g1("stats_drift_docs") == 3L && g1("n_tombstoned_ids") == 3L)
    // upsert 2 live docs in place: stats count BOTH versions
    val ups = all.orderBy(col("doc_id").desc).limit(2)
      .select(col("doc_id"), col("text"))
    IncrementalBm25.upsert(ups, "doc_id", "text", root, tag = Some("bg_u1"))
    val g2 = IncrementalBm25.stats(spark, root, "doc_id")
    assert(g2("stats_n_docs") == n + 2 && g2("live_n_docs") == n - 3
      && g2("stats_drift_docs") == 5L)
    // the merge moment (full fold): drift zeroes, gauge agrees
    IncrementalBm25.tailFold(spark, root, "doc_id", keep = 0,
      tag = Some("bg_f1"))
    val g3 = IncrementalBm25.stats(spark, root, "doc_id")
    assert(g3("stats_drift_docs") == 0L
      && g3("stats_n_docs") == n - 3 && g3("live_n_docs") == n - 3)
  }

  test("SegmentStore.withWriterLease: a fold interleaved into a paused append refuses loudly; reentrant nesting; stale leases break; crash releases") {
    import graft.index.{IncrementalKnn, SegmentStore}
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-lease").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)

    // the r12-verdict race, now CHECKED: an appender paused mid-write
    // (simulated by a second thread holding the root's lease) vs an
    // operator firing a tail-fold — the fold must refuse, not sweep the
    // in-flight segment
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val appender = new Thread(() =>
      SegmentStore.withWriterLease(root, "paused-append") {
        entered.countDown(); release.await()
      })
    appender.start(); entered.await()
    intercept[SegmentStore.LeaseHeldException] {
      IncrementalKnn.tailFold(spark, root, keep = 1, tag = Some("lease_f1"))
    }
    intercept[SegmentStore.LeaseHeldException] { // delete refuses too
      IncrementalKnn.delete(Seq(0L).toDF("vec_id"), root, Some("lease_d1"))
    }
    release.countDown(); appender.join()
    // after the holder finishes, the same fold proceeds
    IncrementalKnn.tailFold(spark, root, keep = 1, tag = Some("lease_f1"))
    assert(IncrementalKnn.fanIn(root) == 2)

    // reentrancy: one thread's nested mutations share the hold (upsert →
    // append is the production shape; assert the primitive directly too)
    val nested = SegmentStore.withWriterLease(root, "outer") {
      SegmentStore.withWriterLease(root, "inner") { 42 }
    }
    assert(nested == 42)
    IncrementalKnn.upsert(
      emb.where(col("vec_id") === 4).select(col("vec_id"), col("embedding")),
      root, 3, 5, tag = Some("lease_u1")) // nested append re-enters

    // a crashed holder's lease breaks by age: plant a stale lease file
    // and assert mutation proceeds (two-writer breaks race through the
    // same create-no-overwrite atomicity)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, SegmentStore.LeaseFile),
      "crashed-holder\t12345")
    IncrementalKnn.delete(Seq(2L).toDF("vec_id"), root, Some("lease_d2"))
    // a FRESH foreign lease refuses (age below the stale threshold)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, SegmentStore.LeaseFile),
      s"other-process\t${System.currentTimeMillis()}")
    intercept[SegmentStore.LeaseHeldException] {
      IncrementalKnn.delete(Seq(4L).toDF("vec_id"), root, Some("lease_d3"))
    }
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, SegmentStore.LeaseFile))
    // an exception inside the held body still releases the lease
    intercept[RuntimeException] {
      SegmentStore.withWriterLease(root, "thrower") {
        throw new RuntimeException("boom")
      }
    }
    assert(!new java.io.File(s"$root/${SegmentStore.LeaseFile}").exists())
  }

  test("writer lease r14: heartbeat keeps a slow fold unbreakable past staleMs; rename-verify break never evicts a fresh holder; eviction is loud") {
    import graft.index.SegmentStore
    val root = Files.createTempDirectory("graft-lease14").toString + "/g"
    new java.io.File(root).mkdirs()
    val leaseP = java.nio.file.Paths.get(root, SegmentStore.LeaseFile)

    // (a) a fold that legitimately outlives staleMs is NOT breakable:
    // the heartbeat (staleMs/3) keeps the on-disk stamp fresh for the
    // whole run, so a second writer is still refused — before r14 the
    // 30-min default made every O(corpus) reclaimFold/full fold evictable
    // mid-run (r13 verdict #1)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val slowOk = new java.util.concurrent.atomic.AtomicBoolean(false)
    // staleMs 3000 → heartbeat period 1000: the probe below lands well
    // past the stale age but within 2 s of SOME heartbeat even on a
    // fully-loaded suite box (a 1 s budget flaked under concurrent
    // suites — the margin tests the mechanism, not the scheduler)
    val slow = new Thread(() => {
      SegmentStore.withWriterLease(root, "slow-fold", staleMs = 3000) {
        entered.countDown(); release.await()
      }
      slowOk.set(true)
    })
    slow.start(); entered.await()
    Thread.sleep(4000) // well past the stale age; ~4 heartbeats landed
    intercept[SegmentStore.LeaseHeldException] {
      SegmentStore.withWriterLease(root, "second-writer", staleMs = 3000) {
        fail("second writer entered while a heartbeating fold ran")
      }
    }
    release.countDown(); slow.join()
    assert(slowOk.get, "slow holder must complete cleanly, never evicted")
    assert(!java.nio.file.Files.exists(leaseP))

    // (b) two breakers racing one genuinely-stale lease: exactly one
    // enters, the other is refused. Looped — this race detector caught
    // TWO real bugs as "entered=2": the r13 delete/delete/create
    // interleaving, and Hadoop LocalFileSystem's check-then-act
    // create(overwrite=false) letting both racing creates "succeed"
    // (fixed with NIO O_EXCL on file: roots).
    for (round <- 1 to 12) {
      java.nio.file.Files.writeString(leaseP, "crashed\t12345\tdeadtoken")
      val enteredN = new java.util.concurrent.atomic.AtomicInteger(0)
      val refusedN = new java.util.concurrent.atomic.AtomicInteger(0)
      val go = new java.util.concurrent.CountDownLatch(1)
      val rel = new java.util.concurrent.CountDownLatch(1)
      val breakers = (1 to 2).map { i =>
        new Thread(() => {
          go.await()
          try SegmentStore.withWriterLease(root, s"breaker-$i", staleMs = 500) {
            enteredN.incrementAndGet(); rel.await()
          } catch {
            case _: SegmentStore.LeaseHeldException => refusedN.incrementAndGet()
          }
        })
      }
      breakers.foreach(_.start()); go.countDown()
      val deadline = System.currentTimeMillis() + 10000
      while (enteredN.get + refusedN.get < 2 &&
             System.currentTimeMillis() < deadline) Thread.sleep(5)
      rel.countDown(); breakers.foreach(_.join(10000))
      assert(enteredN.get == 1 && refusedN.get == 1,
        s"round $round: entered=${enteredN.get} refused=${refusedN.get}")
      assert(!java.nio.file.Files.exists(leaseP), s"round $round")
    }

    // (b') the verify step directly: a breaker acting on a STALE read
    // must not evict a FRESH lease recreated in between — the displaced
    // fresh lease is restored byte-identical and the break refused
    val fresh = s"fresh-holder\t${System.currentTimeMillis()}\tlivetoken"
    java.nio.file.Files.writeString(leaseP, fresh)
    val conf = spark.sparkContext.hadoopConfiguration
    val hp = new org.apache.hadoop.fs.Path(leaseP.toString)
    val fs = hp.getFileSystem(conf)
    val qp = fs.makeQualified(hp)
    val staleObserved = "crashed\t12345\tdeadtoken".getBytes("UTF-8")
    assert(!SegmentStore.breakStaleLease(fs, qp, staleObserved, "tokX"))
    assert(java.nio.file.Files.readString(leaseP) == fresh,
      "displaced fresh lease must be restored intact")
    // breaking with the TRUE observed bytes succeeds and clears the slot
    val trueObserved = java.nio.file.Files.readAllBytes(leaseP)
    assert(SegmentStore.breakStaleLease(fs, qp, trueObserved, "tokY"))
    assert(!java.nio.file.Files.exists(leaseP))

    // (c) eviction is LOUD end-to-end: a foreign writer takes the lease
    // mid-hold (operator force-break + re-acquire), the victim's next
    // renewal throws, and the victim's withWriterLease refuses to report
    // success — and never deletes the usurper's lease on the way out
    val ex = intercept[SegmentStore.LeaseHeldException] {
      SegmentStore.withWriterLease(root, "victim", staleMs = 60000) {
        // the usurper acts through the FS API like a real breaker
        // (direct file writes would leave a stale checksum sidecar and
        // read as a transient failure, not an eviction)
        fs.delete(qp, false)
        val out = fs.create(qp, false)
        out.write(s"usurper\t${System.currentTimeMillis()}\tforeign-token"
          .getBytes("UTF-8"))
        out.close()
        intercept[SegmentStore.LeaseHeldException] {
          SegmentStore.renewLease(root)
        }
        "body completed"
      }
    }
    assert(ex.getMessage.contains("broken while held"), ex.getMessage)
    assert(java.nio.file.Files.readString(leaseP).startsWith("usurper"),
      "victim's release must not delete the usurper's lease")
    java.nio.file.Files.delete(leaseP)
  }

  test("writer lease r15: release is serialized with the heartbeat; a stale-age crossing mid-beat self-evicts loudly; an unreadable lease at release is left in place") {
    import graft.index.SegmentStore
    val root = Files.createTempDirectory("graft-lease15").toString + "/g"
    new java.io.File(root).mkdirs()
    val leaseP = java.nio.file.Paths.get(root, SegmentStore.LeaseFile)
    val conf = spark.sparkContext.hadoopConfiguration
    val hp = new org.apache.hadoop.fs.Path(leaseP.toString)
    val fs = hp.getFileSystem(conf)
    val qp = fs.makeQualified(hp)

    // (a) release/heartbeat serialization: pre-r15 a beat that passed
    // its hold lookup just before release could recreate the lease AFTER
    // the delete — a holderless file wedging the root for the full stale
    // age (r14 ADVICE (a)). The hold-monitor serialization makes the
    // property deterministic: after ANY release, the file is gone and
    // stays gone. staleMs 3000 (beat every 1 s) for the same
    // loaded-box margin as the r14 heartbeat test — a smaller stale age
    // would let a mere scheduler stall trip the mid-beat stale-age
    // self-eviction below and fail the release loudly.
    for (round <- 1 to 6) {
      SegmentStore.withWriterLease(root, "short-hold", staleMs = 3000) {
        Thread.sleep(1050) // straddle one heartbeat
      }
      Thread.sleep(100) // would let an orphaned in-flight beat land
      assert(!java.nio.file.Files.exists(leaseP),
        s"round $round: release resurrected a holderless lease")
    }

    // (b) the paused-holder clobber (r14 ADVICE (b)): the on-disk stamp
    // crosses the stale age between a beat's token read and its
    // overwrite (simulated by aging the stamp under our own token via
    // the FS API — a direct file write would leave a stale checksum
    // sidecar and read as transient). The renewal must NOT keep
    // heartbeating over a window where a breaker may have installed a
    // fresh holder we just clobbered: it gives the slot back, flags
    // eviction, and the hold's release refuses to report success.
    val ex = intercept[SegmentStore.LeaseHeldException] {
      SegmentStore.withWriterLease(root, "paused-holder", staleMs = 60000) {
        val tok = java.nio.file.Files.readString(leaseP).split('\t')(2)
        fs.delete(qp, false)
        val out = fs.create(qp, false)
        out.write(
          s"paused-holder\t${System.currentTimeMillis() - 61000}\t$tok"
            .getBytes("UTF-8"))
        out.close()
        val beatEx = intercept[SegmentStore.LeaseHeldException] {
          SegmentStore.renewLease(root)
        }
        assert(beatEx.getMessage.contains("stale age mid-renewal"),
          beatEx.getMessage)
        assert(!java.nio.file.Files.exists(leaseP),
          "self-eviction must give the slot back")
        "body completed"
      }
    }
    assert(ex.getMessage.contains("broken while held"), ex.getMessage)

    // (c) unreadable lease at release: replace the lease with something
    // the release CANNOT read (a non-empty directory behaves like a
    // usurper's torn write). Pre-r15 the release deleted it "as ours" —
    // silently evicting a possible usurper; now it is left in place and
    // the hold reports failure loudly (r14 ADVICE).
    val ex2 = intercept[SegmentStore.LeaseHeldException] {
      SegmentStore.withWriterLease(root, "torn-release", staleMs = 60000) {
        fs.delete(qp, false)
        java.nio.file.Files.createDirectory(leaseP)
        java.nio.file.Files.write(leaseP.resolve("torn"),
          "x".getBytes("UTF-8"))
        "body completed"
      }
    }
    assert(ex2.getMessage.contains("broken while held"), ex2.getMessage)
    assert(java.nio.file.Files.isDirectory(leaseP),
      "an unreadable lease must be left in place, never deleted as ours")
    java.nio.file.Files.delete(leaseP.resolve("torn"))
    java.nio.file.Files.delete(leaseP)
  }

  test("IndexCatalog.ensure r15: a foreign builder that dies without a marker is detected promptly; builds of distinct artifacts do not serialize") {
    import graft.index.{IndexCatalog, SegmentStore}
    val dataDir = Files.createTempDirectory("graft-cold15").toString
    val name = "deadbuilder_v1"
    val p = IndexCatalog.path(dataDir, name)
    // a foreign "process" builder that CRASHES mid-build: its lease is
    // released by the finally (a kill -9 leaves it to age out — same
    // detection, longer horizon), no marker ever appears. Pre-r15 the
    // waiter slept the full 10-min poll horizon and then rethrew; now
    // the vanished lease sends it back to build the artifact itself.
    val doomedIn = new java.util.concurrent.CountDownLatch(1)
    val doomed = new Thread(() =>
      try SegmentStore.withWriterLease(p, "doomed-builder") {
        doomedIn.countDown(); Thread.sleep(800)
        throw new RuntimeException("builder crashed before the marker")
      } catch { case _: RuntimeException => () })
    doomed.start(); doomedIn.await()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.currentTimeMillis()
    IndexCatalog.ensure(spark, dataDir, name)(_ => builds.incrementAndGet())
    assert(builds.get == 1, "waiter must rebuild after the builder died")
    assert(System.currentTimeMillis() - t0 < 60000,
      "dead-builder detection must not sleep to the poll deadline")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(p, "_GRAFT_INDEX_READY")))
    doomed.join(10000)

    // per-path locks: a slow build of one artifact must not block an
    // unrelated artifact's ensure (pre-r15 the object monitor serialized
    // EVERY ensure in the JVM behind it)
    val slowIn = new java.util.concurrent.CountDownLatch(1)
    val slowGo = new java.util.concurrent.CountDownLatch(1)
    val slowT = new Thread(() =>
      IndexCatalog.ensure(spark, dataDir, "slow_build_v1") { _ =>
        slowIn.countDown(); slowGo.await()
      })
    slowT.start(); slowIn.await()
    val t1 = System.currentTimeMillis()
    IndexCatalog.ensure(spark, dataDir, "fast_build_v1")(_ => ())
    assert(System.currentTimeMillis() - t1 < 5000,
      "distinct artifacts must not serialize on a global monitor")
    slowGo.countDown(); slowT.join(10000)
    Seq(name, "slow_build_v1", "fast_build_v1")
      .foreach(IndexCatalog.invalidate(dataDir, _))
  }

  test("IndexCatalog.ensure: concurrent cold-start — the lease loser waits for the winner's marker instead of duplicating the build") {
    import graft.index.{IndexCatalog, SegmentStore}
    val dataDir = Files.createTempDirectory("graft-cold").toString
    val name = "coldstart_lease_v1"
    val p = IndexCatalog.path(dataDir, name)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    // a foreign "process" builder: holds the tree's writer lease, then
    // publishes the artifact marker (what a second cluster job racing
    // the same cold start does)
    val holderIn = new java.util.concurrent.CountDownLatch(1)
    val holderGo = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      SegmentStore.withWriterLease(p, "foreign-builder") {
        holderIn.countDown(); holderGo.await()
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p, "_GRAFT_INDEX_READY"),
          Array.emptyByteArray)
      })
    holder.start(); holderIn.await()
    val waiter = new Thread(() =>
      IndexCatalog.ensure(spark, dataDir, name)(_ => builds.incrementAndGet()))
    waiter.start()
    Thread.sleep(500) // let the waiter hit the live lease and start polling
    holderGo.countDown()
    waiter.join(30000)
    assert(!waiter.isAlive, "waiter must return once the marker appears")
    holder.join(10000)
    assert(builds.get == 0, "the lease loser must not duplicate the build")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(p, "_GRAFT_INDEX_READY")))
    IndexCatalog.invalidate(dataDir, name)
  }

  test("GraphLadder: geometric rungs are exact mod-subsets; level choice takes the sparsest rung with enough candidates; entry scan is bounded") {
    import graft.index.GraphLadder
    import graft.search.Ann
    val emb = Tables.embeddings(spark, Sf0001)
    val counts = GraphLadder.levelCounts(spark, Sf0001) // also builds
    // rungs are exact mod-subsets of the embeddings table
    GraphLadder.Mods.foreach { m =>
      val layer = spark.read.parquet(
        graft.index.IndexCatalog.path(Sf0001, "graph_ladder_v1") + s"/mod=$m")
      val want = emb.where(pmod(col("vec_id"), lit(m)) === lit(0))
        .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      val got = layer.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"mod=$m")
      assert(counts(m) == want.size.toLong, s"sidecar count for mod=$m")
    }
    // the cascade: sparsest rung with >= minRows, densest as fallback.
    // sf0.001 counts: mod16 ~31, mod256 = 2, mod4096 = 1.
    assert(GraphLadder.level(spark, Sf0001, minRows = 8)._1 == 16)
    assert(GraphLadder.level(spark, Sf0001, minRows = 2)._1 == 256)
    assert(GraphLadder.level(spark, Sf0001, minRows = 1)._1 == 4096)
    assert(GraphLadder.level(spark, Sf0001, minRows = 10000)._1 == 16,
      "tiny corpora fall back to the densest rung")
    // boundedness: whenever a sparser rung exists above the chosen one,
    // the chosen layer is < 16 * minRows — the entry scan never grows
    // with the corpus, only with the requested candidate floor
    for (minRows <- Seq(1L, 2L)) {
      val (mod, layer) = GraphLadder.level(spark, Sf0001, minRows)
      if (mod != GraphLadder.Mods.last)
        assert(layer.count() < 16 * minRows + 16, s"minRows=$minRows mod=$mod")
    }
    // ladder entries feed the walk exactly like the inline mod filter
    val qv = emb.where(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    val (mod, layer) = GraphLadder.level(spark, Sf0001, minRows = 2)
    val fromLadder = Ann.hierEntriesFrom(layer, qv, 3)
      .collect().map(_.getLong(0)).toSeq
    val inline = Ann.hierEntries(emb, qv, mod, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(fromLadder == inline && fromLadder.nonEmpty)
  }

  test("graph serving ladder opt-in: default route unchanged; under the switch batched ≡ single-query from the same rung") {
    import graft.search.SearchEngine
    val queries = Seq((0L, "spark join"), (1L, "filter scan"))
    def batchRows() = SearchEngine
      .graphSearchBatched(spark, Sf0001, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = batchRows()
    sys.props("graft.graph.entry.ladder.min.rows") = "2"
    val (withLadder, single0) =
      try {
        (batchRows(),
          SearchEngine.graphSearch(spark, Sf0001, "spark join", 5)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      } finally sys.props.remove("graft.graph.entry.ladder.min.rows")
    // the switch removed: the pinned default family is back
    assert(batchRows() == before, "default route must be unchanged")
    // under the switch, the batch route keeps its ≡-single-query
    // contract — same rung entries, same walk
    assert(withLadder.filter(_._1 == 0L).map(t => (t._2, t._3)) == single0,
      "batched qid-0 must equal the single-query ladder walk")
    assert(withLadder.nonEmpty && single0.nonEmpty)
  }

  test("incremental knn reclaimFold: kills baked + ledger rebased == rebuild over survivors; refused while holes are unrepaired") {
    import graft.index.{IncrementalKnn, SegmentStore}
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    // twin discipline like the tail-fold spec: identical mutations, only
    // one root reclaim-folds — reads must stay byte-equivalent
    val folded = Files.createTempDirectory("graft-knn-rf").toString + "/g"
    val twin = Files.createTempDirectory("graft-knn-rt").toString + "/g"
    def build(r: String): Unit = {
      IncrementalKnn.init(emb.where(col("vec_id") % 3 === 0), centroids, r, 3, 5)
      IncrementalKnn.append(emb.where(col("vec_id") % 3 === 1), r, 3, 5)
      IncrementalKnn.append(emb.where(col("vec_id") % 3 === 2), r, 3, 5)
    }
    build(folded); build(twin)
    def rows(r: String) = IncrementalKnn.edges(spark, r, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))).toSeq
    def both(f: String => Unit): Unit = { f(folded); f(twin) }

    val dels = rows(twin).filter(_._4 < 5).map(_._2).distinct.take(2)
    both(r => IncrementalKnn.delete(dels.toDF("vec_id"), r, tag = Some("krf_d1")))

    // THE GATE: unrepaired holes refuse the reclaiming fold (baking now
    // would freeze them as silent truncation)
    assert(IncrementalKnn.stats(spark, folded)("n_stale_srcs") > 0)
    intercept[IllegalArgumentException] {
      IncrementalKnn.reclaimFold(spark, folded, 5, tag = Some("krf_f0"))
    }

    both(r => IncrementalKnn.repair(spark, r, 3, 5, tag = Some("krf_r1")))
    assert(IncrementalKnn.stats(spark, folded)("n_stale_srcs") == 0L)
    val preTombs = SegmentStore.tombVersion(s"$folded/tombs")
    IncrementalKnn.reclaimFold(spark, folded, 5, tag = Some("krf_f1"))
    IncrementalKnn.reclaimFold(spark, folded, 5, tag = Some("krf_f1")) // idempotent

    // reads identical to the unfolded twin; fan-in collapsed to 1; the
    // ledger is REBASED (readers pay zero anti-join for absorbed kills)
    assert(rows(folded) == rows(twin) && rows(twin).nonEmpty)
    assert(IncrementalKnn.fanIn(folded) == 1)
    val m = SegmentStore.currentManifest(s"$folded/commit").get
    assert(m.tombRebase == preTombs && preTombs > 0)
    assert(SegmentStore.tombIds(spark, s"$folded/tombs", m.tombRebase).isEmpty)
    assert(IncrementalKnn.stats(spark, folded)("n_tombstoned_ids") == 0L)
    assert(IncrementalKnn.stats(spark, folded)("tomb_rebase") == preTombs.toLong)

    // post-fold lifecycle stays equivalent AT EVERY REPAIRS-CURRENT
    // point: a delete kills FOLDED rows (fresh horizon > the folded
    // segment's logical number), repair heals, upsert replaces, append
    // extends — all vs the twin. The DEGRADED window between delete and
    // repair is deliberately NOT twin-compared: the reclaimed root's
    // stale-src sidecar ranks the frozen exact top-k (holes where the
    // kill landed), while the unfolded twin ranks its stored per-segment
    // extras — same visible-holes contract, different stored sets by
    // design (reclaim physically dropped sub-top-k candidates).
    val victim = rows(twin).filter(e => e._4 < 5 && !dels.contains(e._2))
      .map(_._2).distinct.head
    both(r => IncrementalKnn.delete(Seq(victim).toDF("vec_id"), r,
      tag = Some("krf_d2")))
    // degraded window: holes visible on the reclaimed root (some src
    // serves fewer than k), never silent promotion past the frozen top-k
    val degraded = rows(folded)
    assert(!degraded.exists(_._2 == victim))
    // a true hole: some src keeps a rank beyond its surviving row count
    assert(degraded.groupBy(_._1).exists { case (_, rs) =>
      rs.map(_._4).max > rs.size })
    both(r => IncrementalKnn.repair(spark, r, 3, 5, tag = Some("krf_r2")))
    assert(rows(folded) == rows(twin)) // healed identically
    both(r => IncrementalKnn.upsert(
      emb.where(col("vec_id") === 4).select(col("vec_id"), col("embedding")),
      r, 3, 5, tag = Some("krf_u1")))
    both(r => IncrementalKnn.repair(spark, r, 3, 5, tag = Some("krf_r3")))
    val extra = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    both(r => IncrementalKnn.append(extra, r, 3, 5, tag = Some("krf_a1")))
    assert(rows(folded) == rows(twin))

    // a plain tail-fold of the reclaimed root keeps the repair-ledger
    // rebase: the absorbed repair segments must stay skipped, or their
    // stale rows merge back into reads
    val repairRebase =
      SegmentStore.currentManifest(s"$folded/commit").get.repairRebase
    IncrementalKnn.tailFold(spark, folded, keep = 1, tag = Some("krf_t1"))
    assert(repairRebase > 0 &&
      SegmentStore.currentManifest(s"$folded/commit").get.repairRebase == repairRebase)
    assert(rows(folded) == rows(twin))

    // reclaim-after-reclaim composes (fold-of-fold with a rebased
    // ledger): repairs are current, so the gate passes again
    IncrementalKnn.reclaimFold(spark, folded, 5, tag = Some("krf_f2"))
    assert(rows(folded) == rows(twin) && IncrementalKnn.fanIn(folded) == 1)

    // and one reclaiming fold of the never-folded twin lands on the same
    // served graph
    IncrementalKnn.reclaimFold(spark, twin, 5, tag = Some("krf_tw"))
    assert(rows(twin) == rows(folded))
  }

  test("reclaimed root degraded window (a34 fixture): delete without repair serves the frozen top-k minus kills — holes visible, never promotion") {
    import graft.index.{IncrementalKnn, IndexCatalog}
    // fresh fixtures: both are mutated-history roots, so never pin
    // against whatever a previous JVM left (fixture-pollution rule)
    IndexCatalog.invalidate(Sf0001, IncrementalKnn.ReclaimName)
    IndexCatalog.invalidate(Sf0001, IncrementalKnn.ReclaimDegradedName)
    val pre = IncrementalKnn.ensureReclaimFolded(spark, Sf0001, 3, 5)
    val deg = IncrementalKnn.ensureReclaimDegraded(spark, Sf0001, 3, 5)
    def rows(r: String) = IncrementalKnn.edges(spark, r, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))).toSeq
    val frozen = rows(pre).toSet // the a33 state: rebuild-over-survivors
    val after = rows(deg)
    assert(after.nonEmpty)
    // the kill landed: deleted ids serve nothing, as src or dst
    assert(after.forall(e => e._1 % 11 != 4 && e._2 % 11 != 4))
    // NO promotion: every served row is a frozen pre-delete row with its
    // pre-delete rank — the reclaim dropped all sub-top-k candidates, so
    // a row outside the frozen set could only come from a regression
    // that invents refills
    assert(after.forall(frozen.contains), "degraded read must be a subset of the frozen top-k")
    // and the holes are VISIBLE: some src keeps a rank beyond its
    // surviving row count (the degradation signal an operator acts on)
    assert(after.groupBy(_._1).exists { case (_, rs) => rs.map(_._4).max > rs.size },
      "expected at least one visible rank hole")
    // exactly the frozen rows whose dst survived — nothing else dropped
    val expected = frozen.filter(e => e._1 % 11 != 4 && e._2 % 11 != 4)
    assert(after.toSet == expected)
  }

  test("IncrementalKnn repairs-current fast path: stamp short-circuit serves rows identical to the full detection scan, and the sidecar fallback reads the stored stamp") {
    import graft.index.{IncrementalKnn, SegmentStore}
    import spark.implicits._
    val emb = Tables.embeddings(spark, Sf0001).where(col("vec_id") < 90)
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = Files.createTempDirectory("graft-stamp").toString + "/g"
    IncrementalKnn.init(emb.where(col("vec_id") % 2 === 0), centroids, root, 3, 5)
    IncrementalKnn.append(emb.where(col("vec_id") % 2 === 1), root, 3, 5)
    def rows() = IncrementalKnn.edges(spark, root, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))).toSeq
    val dels = rows().filter(_._4 < 5).map(_._2).distinct.take(2)
    IncrementalKnn.delete(dels.toDF("vec_id"), root, tag = Some("sc_d1"))
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("sc_r1"))

    // repairs-current: the published stamp equals the ledger version,
    // so edges() takes the metadata short-circuit
    val rb = s"$root/repairs/commit"
    assert(SegmentStore.versionMeta(rb, 1, "tombv").contains(
      SegmentStore.tombVersion(s"$root/tombs").toString))
    val fast = rows()

    // force the FULL detection path by understating the stamp (as if
    // the repair had observed ledger version 0): the scan must find
    // nothing stale and serve bit-identical rows — the equivalence the
    // short-circuit claims
    val metaPath = java.nio.file.Paths.get(
      SegmentStore.versionDir(rb, 1), "_meta_tombv")
    // drop the local-FS checksum sidecar when tampering out-of-band
    val crcPath = metaPath.resolveSibling("._meta_tombv.crc")
    def tamper(value: String): Unit = {
      java.nio.file.Files.write(metaPath, value.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(crcPath)
    }
    val real = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    tamper("0")
    val detected = rows()
    assert(detected == fast && fast.nonEmpty)
    assert(IncrementalKnn.stats(spark, root)("n_stale_srcs") == 0L)

    // sidecar absent (a segment published before the stamp protocol):
    // the fallback derives the same stamp from the stored tomb_v column
    // and still short-circuits — stats stays 0 without the sidecar
    java.nio.file.Files.delete(metaPath)
    java.nio.file.Files.deleteIfExists(crcPath)
    assert(rows() == fast)
    assert(IncrementalKnn.stats(spark, root)("n_stale_srcs") == 0L)
    tamper(real)

    // a delete NEWER than the stamp must defeat the short-circuit: the
    // new hole is visible (detection ran) until the next repair
    val victim = rows().filter(e => e._4 < 5 && !dels.contains(e._2))
      .map(_._2).distinct.head
    IncrementalKnn.delete(Seq(victim).toDF("vec_id"), root, tag = Some("sc_d2"))
    assert(IncrementalKnn.stats(spark, root)("n_stale_srcs") > 0L)
    val degraded = rows()
    assert(!degraded.exists(e => e._2 == victim || e._1 == victim))
    assert(degraded.groupBy(_._1).exists { case (_, rs) =>
      rs.map(_._4).max > rs.size }, "expected a visible rank hole")
    IncrementalKnn.repair(spark, root, 3, 5, tag = Some("sc_r2"))
    assert(IncrementalKnn.stats(spark, root)("n_stale_srcs") == 0L)
    assert(SegmentStore.versionMeta(rb, 2, "tombv").contains("2"))
  }
}
