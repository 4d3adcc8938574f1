package graft

import graft.serve.Api

/** End-to-end: `/api/...`-shaped requests against the fixture store,
  * exercising the reference's parameter semantics (mode validation, count
  * bounds, filters, fusion, lean projection, admin export). */
class ServeApiSpec extends SparkSpec {

  private def get(path: String, params: (String, String)*): Api.Response =
    Api.handle(spark, Sf0001, path, params.toMap)

  test("health reports per-table counts") {
    val r = get("/health")
    assert(r.status == 200, r.body)
    assert(r.body.contains("\"status\":\"healthy\""))
    assert(r.body.contains("\"documents\":"))
  }

  test("query endpoint: all three modes return ranked hits; bad mode is a 400") {
    for (mode <- Seq("dense", "sparse", "hybrid")) {
      val r = get("/api/query", "q" -> "spark join filter", "mode" -> mode, "count" -> "5")
      assert(r.status == 200, s"$mode: ${r.body}")
      assert(r.body.contains(s""""mode":"$mode""""), r.body)
      assert(r.body.contains("\"score\":"), r.body)
    }
    val bad = get("/api/query", "q" -> "x", "mode" -> "telepathy")
    assert(bad.status == 400 && bad.body.contains("Invalid mode"), bad.body)
  }

  test("query endpoint mode=graph: e2e == direct walk over the tfidf graph artifact; filtered == a26 post-filter") {
    import org.apache.spark.sql.functions.col
    import graft.index.TfIdfGraphIndex
    import graft.search.Ann
    val q = "spark join filter"
    val r = get("/api/query", "q" -> q, "mode" -> "graph", "count" -> "5")
    assert(r.status == 200, r.body)
    assert(r.body.contains("\"mode\":\"graph\""), r.body)

    // e2e must be value-identical to the direct walk over the same
    // artifacts with the serving parameters (entries 3 of mod-16 coarse
    // layer, beam 8, hops 2) — serialized through the same toJSON path
    val vecs = TfIdfGraphIndex.vectors(spark, Sf0001)
    val edges = TfIdfGraphIndex.edges(spark, Sf0001)
    val qv = TfIdfGraphIndex.queryVec(spark, Sf0001, q)
    val direct = Ann.graphTopK(edges, vecs, qv,
      Ann.hierEntries(vecs, qv, 16, 3), beam = 8, hops = 2, k = 5)
    val expected = direct.toJSON.collect().mkString(",")
    assert(r.body.contains(s""""results":[$expected]"""), s"${r.body}\n!=\n$expected")

    // filtered graph mode: oversampled walk post-filtered on the payload
    // field (the reference's filtered semantics), trimmed to count
    val rf = get("/api/query", "q" -> q, "mode" -> "graph",
      "filter_field" -> "lang", "filter_value" -> "en", "count" -> "5")
    assert(rf.status == 200, rf.body)
    val walked = Ann.graphTopK(edges, vecs, qv,
      Ann.hierEntries(vecs, qv, 16, 3), beam = 8, hops = 2, k = 15)
    val allowed = graft.tables.Tables.documents(spark, Sf0001)
      .where(col("lang") === "en").select(col("doc_id").as("id"))
    val directF = walked.join(allowed, Seq("id"))
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id").asc).limit(5)
    val expectedF = directF.toJSON.collect().mkString(",")
    assert(rf.body.contains(s""""results":[$expectedF]"""),
      s"${rf.body}\n!=\n$expectedF")
  }

  test("query endpoint mode=graph graph=grown: serves the incrementally-maintained root == direct grown walk") {
    val q = "spark join filter"
    val r = get("/api/query", "q" -> q, "mode" -> "graph",
      "graph" -> "grown", "count" -> "5")
    assert(r.status == 200, r.body)
    val direct = graft.search.SearchEngine
      .graphSearchGrown(spark, Sf0001, q, 5)
    val expected = direct.toJSON.collect().mkString(",")
    assert(r.body.contains(s""""results":[$expected]"""),
      s"${r.body}\n!=\n$expected")
    // unknown graph value is a 400 validation error
    val bad = get("/api/query", "q" -> q, "mode" -> "graph", "graph" -> "x")
    assert(bad.status == 400 && bad.body.contains("Invalid graph"), bad.body)

    // grown + filter serves the MAINTAINED root's filtered walk (r10
    // ADVICE: this combination silently fell through to the one-shot
    // built root before)
    val rf = get("/api/query", "q" -> q, "mode" -> "graph",
      "graph" -> "grown", "filter_field" -> "lang", "filter_value" -> "en",
      "count" -> "5")
    assert(rf.status == 200, rf.body)
    val directF = graft.search.SearchEngine
      .graphSearchGrownFiltered(spark, Sf0001, q, "lang", "en", 5)
    val expectedF = directF.toJSON.collect().mkString(",")
    assert(rf.body.contains(s""""results":[$expectedF]"""),
      s"${rf.body}\n!=\n$expectedF")
  }

  test("operational routes: ultra-fast/really-fast aliases, optimize warm-up, cache clear (search.py:164-433)") {
    // the two fast-path aliases serve the lean dense search with the
    // reference's envelope (query, search_time_ms, results, search_type)
    for ((p, kind) <- Seq(
        "/api/search/ultra-fast" -> "ultra_fast_vector",
        "/api/search/really-fast" -> "really_fast_alias")) {
      val r = get(p, "q" -> "spark join", "count" -> "3")
      assert(r.status == 200, s"$p: ${r.body}")
      assert(r.body.contains(s""""search_type":"$kind""""), r.body)
      assert(r.body.contains("\"search_time_ms\":"), r.body)
      assert(r.body.contains("\"id\":") && r.body.contains("\"score\":"), r.body)
      assert(!r.body.contains("\"text\""), r.body) // lean projection
      // same results as the lean route (alias contract)
      val lean = get("/api/lean-search", "q" -> "spark join", "count" -> "3")
      val hits = """"results":(\[.*?\])""".r
      assert(hits.findFirstMatchIn(r.body).map(_.group(1)) ==
        hits.findFirstMatchIn(lean.body).map(_.group(1)), s"$p != lean")
      assert(get(p, "count" -> "3").status == 422) // q required
    }

    // optimize: every service warms, none errors
    val opt = get("/api/search/optimize")
    assert(opt.status == 200, opt.body)
    assert(opt.body.contains("\"status\":\"completed\""), opt.body)
    for (svc <- Seq("bm25_index", "tfidf_index", "graph_index",
        "grown_graph", "probe_queries"))
      assert(opt.body.contains(s""""$svc":"""), opt.body)
    assert(!opt.body.contains("error:"), opt.body)

    // cache clear succeeds and the engine still serves afterwards (the
    // caches are warm-state, never correctness state)
    val clear = get("/api/search/cache")
    assert(clear.status == 200 && clear.body.contains("cleared"), clear.body)
    val after = get("/api/search/ultra-fast", "q" -> "spark join", "count" -> "3")
    assert(after.status == 200, after.body)
  }

  test("reference literal routes: /api/dense|sparse|hybrid, /api/search/{fusion,lean,performance-stats} alias the engine routes") {
    // the reference mounts its search router at prefix /api (main.py:24),
    // so these are the paths a porting client actually calls; each must
    // serve byte-identically to this engine's original spelling
    for ((ref, ours) <- Seq(
        "/api/dense" -> "/api/search-dense",
        "/api/sparse" -> "/api/search-sparse",
        "/api/hybrid" -> "/api/search-hybrid")) {
      val a = get(ref, "query" -> "spark join filter", "limit" -> "5")
      val b = get(ours, "query" -> "spark join filter", "limit" -> "5")
      assert(a.status == 200 && a.body == b.body, s"$ref != $ours:\n${a.body}\n${b.body}")
    }
    for ((ref, ours) <- Seq(
        "/api/search/fusion" -> "/api/fusion-search",
        "/api/search/lean" -> "/api/lean-search")) {
      val a = get(ref, "q" -> "spark join filter", "count" -> "5")
      val b = get(ours, "q" -> "spark join filter", "count" -> "5")
      assert(a.status == 200 && a.body == b.body, s"$ref != $ours")
    }
    val ps = get("/api/search/performance-stats")
    assert(ps.status == 200 && ps.body.contains("ewma_ms"), ps.body)
  }

  test("query endpoint: missing q is a 422; out-of-range count is a 422") {
    assert(get("/api/query").status == 422)
    val r = get("/api/query", "q" -> "x", "count" -> "0")
    assert(r.status == 422 && r.body.contains("count"), r.body)
    assert(get("/api/query", "q" -> "x", "count" -> "101").status == 422)
  }

  test("search endpoint: full details envelope, filter path, fusion path") {
    val plain = get("/api/search", "q" -> "spark join filter", "count" -> "5")
    assert(plain.status == 200, plain.body)
    assert(plain.body.contains("\"image\":") && plain.body.contains("\"price\":"), plain.body)

    val filtered = get("/api/search", "q" -> "spark join filter",
      "filter_field" -> "lang", "filter_value" -> "en", "count" -> "5")
    assert(filtered.status == 200, filtered.body)

    val fused = get("/api/search", "q" -> "src7", "use_fusion" -> "true", "count" -> "5")
    assert(fused.status == 200, fused.body)

    val tooMany = get("/api/search", "q" -> "x", "count" -> "101")
    assert(tooMany.status == 422, tooMany.body)
  }

  test("fusion: exact part-number hit ranks 1.0 ahead of vector hits") {
    val r = get("/api/fusion-search", "q" -> "src7", "count" -> "5")
    assert(r.status == 200, r.body)
    assert(r.body.contains("\"search_type\":\"exact\""), r.body)
    assert(r.body.contains("\"score\":1.0"), r.body)
  }

  test("lean search returns only id+score fields") {
    val r = get("/api/lean-search", "q" -> "spark join", "count" -> "3")
    assert(r.status == 200, r.body)
    assert(r.body.contains("\"id\":") && r.body.contains("\"score\":"))
    assert(!r.body.contains("\"text\"") && !r.body.contains("\"image\""))
  }

  test("compare reports counts and top score per mode") {
    val r = get("/api/search/compare", "q" -> "spark join filter", "limit" -> "5")
    assert(r.status == 200, r.body)
    for (m <- Seq("dense", "sparse", "hybrid"))
      assert(r.body.contains(s""""$m":{"n_results":"""), r.body)
  }

  test("documents point read: hit and 404") {
    val hit = get("/api/documents", "id" -> "7")
    assert(hit.status == 200 && hit.body.contains("\"doc_id\":7"), hit.body)
    assert(get("/api/documents", "id" -> "999999").status == 404)
  }

  test("admin export honors cap and ships full rows; unknown route is a 404") {
    val r = get("/api/admin/export", "limit" -> "3")
    assert(r.status == 200, r.body)
    assert(r.body.contains("\"exported\":3"), r.body)
    assert(get("/api/nope").status == 404)
    // whitelist reload: dead code upstream, surface-complete stub here
    val wl = get("/api/admin/reload_whitelist")
    assert(wl.status == 200 && wl.body.contains("stub"), wl.body)
  }

  test("search/page: cursor pagination tiles the direct topK ordering; half a cursor is a 400") {
    import graft.index.TfIdfIndex
    import graft.search.SearchEngine
    val q = "spark join filter"
    val terms = TfIdfIndex.tokensOf(q)
    // ground truth: the first 10 of the deterministic total order
    val full = SearchEngine.bm25TopK(spark, Sf0001, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val p1 = get("/api/search/page", "q" -> q, "count" -> "5")
    assert(p1.status == 200, p1.body)
    // drive the cursor exactly like a client: last hit's (score, id)
    val (cid, cscore) = (full(4)._1, full(4)._2)
    val p2 = get("/api/search/page", "q" -> q, "count" -> "5",
      "after_score" -> cscore.toString, "after_id" -> cid.toString)
    assert(p2.status == 200, p2.body)
    // page 2's hits are exactly rows 5..9 of the direct ordering
    full.drop(5).foreach { case (id, score) =>
      assert(p2.body.contains(s""""id":$id,"""), s"$id missing: ${p2.body}")
    }
    full.take(5).foreach { case (id, _) =>
      assert(!p2.body.contains(s""""id":$id,"""), s"$id leaked: ${p2.body}")
    }
    val bad = get("/api/search/page", "q" -> q, "after_score" -> "1.0")
    assert(bad.status == 400, bad.body)

    // dense arm: same tiling against the direct tfidf ordering
    val dfull = SearchEngine.tfidfSearch(spark, Sf0001, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (did, dscore) = (dfull(4)._1, dfull(4)._2)
    val dp2 = get("/api/search/page", "q" -> q, "count" -> "5",
      "mode" -> "dense",
      "after_score" -> dscore.toString, "after_id" -> did.toString)
    assert(dp2.status == 200, dp2.body)
    dfull.drop(5).foreach { case (id, _) =>
      assert(dp2.body.contains(s""""id":$id,"""), s"$id missing: ${dp2.body}")
    }
    assert(get("/api/search/page", "q" -> q, "mode" -> "telepathy")
      .status == 400)
  }

  test("admin index-stats: reports the grown root's clocks and a clean health signal") {
    // the grown root persists across JVMs (catalog marker) and the
    // tail-fold test below mutates its clocks — pin against a FRESH
    // build, not whatever state a previous run left
    graft.index.IndexCatalog.invalidate(Sf0001, graft.index.TfIdfGraphIndex.IncName)
    val r = get("/api/admin/index-stats")
    assert(r.status == 200, r.body)
    assert(r.body.contains("\"index_version\":3"), r.body) // init + 2 appends
    assert(r.body.contains("\"read_fan_in\":3"), r.body) // unfolded yet
    assert(r.body.contains("\"n_stale_srcs\":0"), r.body)
    assert(r.body.contains("\"n_tombstoned_ids\":0"), r.body)
    assert(r.body.contains("\"tomb_rebase\":0"), r.body) // no reclaim yet
    // the BM25 drift gauge rides the same surface: the grown doc index
    // has no deletes/upserts, so stats and live doc counts agree
    assert(r.body.contains("\"bm25\":{"), r.body)
    assert(r.body.contains("\"stats_drift_docs\":0"), r.body)
  }

  test("admin snapshot: backs up the grown graph root crash-consistently; the copy serves identical edges") {
    import graft.index.{IncrementalKnn, TfIdfGraphIndex}
    val dest = java.nio.file.Files
      .createTempDirectory("graft-api-snap").toString + "/backup"
    val r = get("/api/admin/snapshot", "dest" -> dest)
    assert(r.status == 200, r.body)
    assert(r.body.contains("\"success\":true"), r.body)
    // the backup is a serving root: identical merged reads to the live one
    val src = TfIdfGraphIndex.ensureGrown(spark, Sf0001)
    def rows(root: String) = IncrementalKnn.edges(spark, root, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getInt(3))).toSeq
    assert(rows(dest) == rows(src) && rows(src).nonEmpty)
    // a second snapshot to the same (now non-empty) dest is refused as a
    // client error (422 — the require() path)
    assert(get("/api/admin/snapshot", "dest" -> dest).status == 422)
    // a live writer turns the quiesce into a 409 like the fold routes
    // (r13 ADVICE: it used to fall through to a generic 500)
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.index.SegmentStore.withWriterLease(src, "live-cdc-append") {
        entered.countDown(); release.await()
      })
    holder.start(); entered.await()
    val dest2 = java.nio.file.Files
      .createTempDirectory("graft-api-snap2").toString + "/backup"
    val refused = get("/api/admin/snapshot", "dest" -> dest2)
    assert(refused.status == 409, s"${refused.status}: ${refused.body}")
    release.countDown(); holder.join()
  }

  test("admin restore: snapshot back into the live grown root; serving resumes identically; torn copies refused") {
    import graft.index.{IncrementalKnn, TfIdfGraphIndex}
    val q = "spark join filter"
    val before = get("/api/query", "q" -> q, "mode" -> "graph",
      "graph" -> "grown", "count" -> "5")
    assert(before.status == 200, before.body)
    val dest = java.nio.file.Files
      .createTempDirectory("graft-api-restore").toString + "/backup"
    assert(get("/api/admin/snapshot", "dest" -> dest).status == 200)
    // restore the snapshot into the live root (content-identical here —
    // the library-level mutated-root restore is pinned in IndexSpec)
    val r = get("/api/admin/restore", "src" -> dest)
    assert(r.status == 200, r.body)
    // serving resumes with the same results through the rebuilt caches
    val after = get("/api/query", "q" -> q, "mode" -> "graph",
      "graph" -> "grown", "count" -> "5")
    assert(after.status == 200 && after.body == before.body,
      s"before=${before.body}\nafter=${after.body}")
    // a torn/empty copy is refused before anything is touched
    val empty = java.nio.file.Files
      .createTempDirectory("graft-api-restore-torn").toString + "/nothing"
    val torn = get("/api/admin/restore", "src" -> empty)
    assert(torn.status == 422, torn.body)
    assert(get("/api/query", "q" -> q, "mode" -> "graph",
      "graph" -> "grown", "count" -> "5").status == 200)
  }

  test("admin import/importdelta/reset: truncate+load, delta upsert, round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-admin").toFile
    val fullDir = new java.io.File(dir, "full"); fullDir.mkdirs()
    val deltaDir = new java.io.File(dir, "delta"); deltaDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(fullDir, "a.json").toPath,
      """[{"partNumber": "P1", "description": "gas torch"},
         {"partNumber": "P2", "description": "regulator"}]""")
    java.nio.file.Files.writeString(new java.io.File(fullDir, "b.json").toPath,
      """[{"partNumber": "P3", "description": "propane hose"}]""")
    java.nio.file.Files.writeString(new java.io.File(deltaDir, "d.json").toPath,
      """[{"partNumber": "P2", "description": "regulator mk2"},
         {"partNumber": "P4", "description": "flow meter"}]""")
    val store = new java.io.File(dir, "store").getAbsolutePath

    // full import: every *.json under the import dir, counted
    val imp = get("/api/admin/import",
      "import_dir" -> fullDir.getAbsolutePath, "store_dir" -> store)
    assert(imp.status == 200 && imp.body.contains("\"count\":3"), imp.body)

    // delta import: upsert without reset — P2 replaced, P4 added, P1/P3 kept
    val dlt = get("/api/admin/importdelta",
      "import_dir" -> deltaDir.getAbsolutePath, "store_dir" -> store)
    assert(dlt.status == 200 && dlt.body.contains("\"count\":2"), dlt.body)
    val after = spark.read.parquet(s"$store/documents")
    assert(after.count() == 4, "delta upsert should leave 4 docs")
    import org.apache.spark.sql.functions.col
    val p2 = after.where(col("partNumber") === "P2")
      .select("description").head().getString(0)
    assert(p2 == "regulator mk2", s"P2 not replaced: $p2")

    // reset: schema-preserving empty snapshot; absent collection also ok
    val rst = get("/api/admin/reset", "store_dir" -> store)
    assert(rst.status == 200 && rst.body.contains("reset successfully"), rst.body)
    assert(spark.read.parquet(s"$store/documents").count() == 0)
    assert(get("/api/admin/reset", "store_dir" -> s"$store-absent").status == 200)

    // reset-then-import round-trip restores the full set
    val reimp = get("/api/admin/import",
      "import_dir" -> fullDir.getAbsolutePath, "store_dir" -> store)
    assert(reimp.status == 200 && reimp.body.contains("\"count\":3"), reimp.body)
    assert(spark.read.parquet(s"$store/documents").count() == 3)

    // delta into an ABSENT store bootstraps it
    val boot = get("/api/admin/importdelta",
      "import_dir" -> deltaDir.getAbsolutePath, "store_dir" -> s"$store-boot")
    assert(boot.status == 200 && boot.body.contains("\"count\":2"), boot.body)
  }

  test("per-collection stats route serves real counts; unknown collection 404s") {
    val all = get("/api/collections")
    assert(all.status == 200, all.body)
    // pick a source listed by the aggregate route
    val src = """"source":"([^"]+)"""".r.findFirstMatchIn(all.body).get.group(1)
    val one = get(s"/api/collections/$src/stats")
    assert(one.status == 200, one.body)
    assert(one.body.contains(s""""collection":"$src""""), one.body)
    assert(one.body.contains("\"points_count\":"), one.body)
    assert(get("/api/collections/__nope__/stats").status == 404)
  }

  test("load-data: staged upload imports with backfill+ids, upsert replaces, cleanup drops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-load").toFile
    val f = new java.io.File(dir, "batch.json")
    java.nio.file.Files.writeString(f.toPath,
      """[{"partNumber": "P1", "description": "gas torch"},
         {"partNumber": "P2", "description": "regulator"}]""")
    val store = new java.io.File(dir, "store").getAbsolutePath

    val r1 = get("/api/load-data", "path" -> f.getAbsolutePath, "store_dir" -> store)
    assert(r1.status == 200 && r1.body.contains("\"documents_loaded\":2"), r1.body)
    val loaded = spark.read.parquet(s"$store/documents")
    assert(loaded.count() == 2)
    assert(loaded.columns.contains("text") && loaded.columns.contains("id"))

    // second batch drops P2, adds P3: cleanup_old=false keeps P2...
    java.nio.file.Files.writeString(f.toPath,
      """[{"partNumber": "P1", "description": "gas torch v2"},
         {"partNumber": "P3", "description": "hose"}]""")
    val r2 = get("/api/load-data", "path" -> f.getAbsolutePath,
      "store_dir" -> store, "cleanup_old" -> "false")
    assert(r2.status == 200 && r2.body.contains("\"documents_loaded\":3"), r2.body)

    // ...cleanup_old=true (default) makes the store exactly the new batch
    val r3 = get("/api/load-data", "path" -> f.getAbsolutePath, "store_dir" -> store)
    assert(r3.status == 200 && r3.body.contains("\"documents_loaded\":2"), r3.body)
    val parts = spark.read.parquet(s"$store/documents")
      .select("partNumber").collect().map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("P1", "P3"))
  }

  test("performance stats expose EWMA cells after traffic") {
    get("/api/query", "q" -> "spark", "mode" -> "dense")
    val r = get("/api/performance-stats")
    assert(r.status == 200 && r.body.contains("query_dense"), r.body)
  }

  test("malformed input surfaces as a 4xx error envelope, never an exception") {
    // a non-numeric id is a client error (NumberFormatException is an
    // IllegalArgumentException -> 422, FastAPI's validation semantics)
    val bad = get("/api/documents", "id" -> "not-a-number")
    assert(bad.status == 422 && bad.body.contains("error"), bad.body)
    // a client-named staged path that doesn't exist is a client error
    // (AnalysisException PATH_NOT_FOUND -> 400)
    val badStore = get("/api/load-data", "path" -> "/nope/missing.json",
      "store_dir" -> "/tmp/graft-nope")
    assert(badStore.status == 400 && badStore.body.contains("error"), badStore.body)
  }

  test("malformed JSON upload is a 400, like the reference's JSONDecodeError") {
    val dir = java.nio.file.Files.createTempDirectory("graft-badjson").toFile
    val f = new java.io.File(dir, "bad.json")
    java.nio.file.Files.writeString(f.toPath, """{not json at all][""")
    val store = new java.io.File(dir, "store").getAbsolutePath
    val r = get("/api/load-data", "path" -> f.getAbsolutePath, "store_dir" -> store)
    assert(r.status == 400 && r.body.contains("malformed JSON"), s"${r.status}: ${r.body}")
    assert(!new java.io.File(store).exists(), "a rejected upload must not create the store")
  }

  test("unknown filter_field is a 400 validation error, not a 500") {
    val r = get("/api/query", "q" -> "spark join",
      "filter_field" -> "no_such_column", "filter_value" -> "x")
    assert(r.status == 400 && r.body.contains("error"), s"${r.status}: ${r.body}")
  }

  test("document CRUD: create, update archives, version reads, history, delete") {
    val store = java.nio.file.Files.createTempDirectory("graft-crud").toString

    // create → version 1, nothing archived
    val c = get("/api/documents/create", "store_dir" -> store,
      "id" -> "42", "text" -> "first body")
    assert(c.status == 200 && c.body.contains("\"version\":1"), c.body)
    assert(c.body.contains("\"archived_versions\":0"), c.body)

    // create on an EXISTING id updates (version_service create→update path)
    val c2 = get("/api/documents/create", "store_dir" -> store,
      "id" -> "42", "text" -> "second body")
    assert(c2.status == 200 && c2.body.contains("\"version\":2"), c2.body)
    assert(c2.body.contains("\"archived_versions\":1"), c2.body)

    // update bumps again; update of a MISSING id creates at version 1
    val u = get("/api/documents/update", "store_dir" -> store,
      "id" -> "42", "text" -> "third body")
    assert(u.status == 200 && u.body.contains("\"version\":3"), u.body)
    val uNew = get("/api/documents/update", "store_dir" -> store,
      "id" -> "7", "text" -> "other doc")
    assert(uNew.status == 200 && uNew.body.contains("\"version\":1"), uNew.body)

    // version reads: current from main, superseded from history, absent 404
    val vCur = get("/api/documents/versions", "store_dir" -> store,
      "id" -> "42", "version" -> "3")
    assert(vCur.status == 200 && vCur.body.contains("third body"), vCur.body)
    val vOld = get("/api/documents/versions", "store_dir" -> store,
      "id" -> "42", "version" -> "1")
    assert(vOld.status == 200 && vOld.body.contains("first body"), vOld.body)
    assert(vOld.body.contains("\"history_id\":\"42_v1\""), vOld.body)
    assert(get("/api/documents/versions", "store_dir" -> store,
      "id" -> "42", "version" -> "9").status == 404)

    // history: newest first, only superseded versions, 404 for unknown id
    val h = get("/api/documents/history", "store_dir" -> store, "id" -> "42")
    assert(h.status == 200 && h.body.contains("\"count\":2"), h.body)
    assert(h.body.indexOf("second body") < h.body.indexOf("first body"), h.body)
    assert(get("/api/documents/history", "store_dir" -> store,
      "id" -> "999").status == 404)

    // created_at survives updates; updated_at moves
    assert(vCur.body.contains("\"created_at\":"), vCur.body)
    val createdAt = "\"created_at\":\"([^\"]+)\"".r
      .findFirstMatchIn(vOld.body).get.group(1)
    assert(vCur.body.contains(s""""created_at":"$createdAt""""), vCur.body)

    // delete keeping history: doc gone from main, history still readable
    val d = get("/api/documents/delete", "store_dir" -> store, "id" -> "42")
    assert(d.status == 200, d.body)
    assert(get("/api/documents/history", "store_dir" -> store,
      "id" -> "42").status == 404) // current gone -> reference 404s history
    val vHist = get("/api/documents/versions", "store_dir" -> store,
      "id" -> "42", "version" -> "2")
    assert(vHist.status == 200, s"history row must survive plain delete: ${vHist.body}")
    assert(get("/api/documents/delete", "store_dir" -> store,
      "id" -> "42").status == 404) // second delete: already gone

    // delete WITH history drops the trail too
    get("/api/documents/update", "store_dir" -> store, "id" -> "7", "text" -> "v2")
    val dh = get("/api/documents/delete", "store_dir" -> store,
      "id" -> "7", "delete_history" -> "true")
    assert(dh.status == 200, dh.body)
    assert(get("/api/documents/versions", "store_dir" -> store,
      "id" -> "7", "version" -> "1").status == 404)
  }

  test("corrupt store surfaces as a 500, not a client 400") {
    // a store dir that exists but holds garbage instead of parquet: the
    // failure is operator-actionable (500), not request-derived
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt").toFile
    val main = new java.io.File(dir, "main"); main.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(main, "part-00000.parquet").toPath, "not parquet bytes")
    val r = get("/api/documents/history",
      "store_dir" -> dir.getAbsolutePath, "id" -> "1")
    assert(r.status == 500, s"${r.status}: ${r.body}")
  }

  test("methods-info and self-test diagnostic routes") {
    val mi = get("/api/methods-info")
    assert(mi.status == 200, mi.body)
    for (m <- Seq("dense", "sparse", "hybrid"))
      assert(mi.body.contains(s""""$m":{"""), mi.body)
    assert(mi.body.contains("\"fusion_method\":\"rrf_k60\""), mi.body)

    val t = get("/api/test")
    assert(t.status == 200, t.body)
    assert(t.body.contains("\"status\":\"success\""), t.body)
    assert(t.body.contains("\"hybrid\":\"ok\""), t.body)
  }

  test("facets: per-facet counts sum to the candidate pool, hits capped per facet") {
    val r = get("/api/facets", "q" -> "spark join filter",
      "count" -> "50", "per_facet" -> "2")
    assert(r.status == 200, r.body)
    assert(r.body.contains("\"facets\":["), r.body)
    // counts across facets account for every pooled candidate
    val counts = "\"count\":(\\d+)".r.findAllMatchIn(r.body).map(_.group(1).toInt).toSeq
    val nHits = "\\{\"id\":".r.findAllIn(r.body).size
    assert(counts.sum > 0 && counts.sum <= 50, counts.toString)
    assert(nHits <= counts.length * 2, s"per_facet cap violated: $nHits hits")
    // facets ordered by count desc
    assert(counts == counts.sortBy(-_), counts.toString)
    // missing q is a validation error (FastAPI-style 422)
    assert(get("/api/facets").status == 422)
  }

  test("more-like-this: hits exclude the anchor, scores descend, bad id is 422") {
    val r = get("/api/more-like-this", "id" -> "42", "count" -> "5")
    assert(r.status == 200, r.body)
    val ids = "\"id\":(\\d+)".r.findAllMatchIn(r.body).map(_.group(1).toLong).toSeq
    assert(ids.nonEmpty && ids.size <= 5, r.body)
    assert(!ids.contains(42L), "anchor doc must not be its own neighbor")
    val scores = "\"score\":([0-9.]+)".r.findAllMatchIn(r.body)
      .map(_.group(1).toDouble).toSeq
    assert(scores == scores.sortBy(-_), scores.toString)
    assert(get("/api/more-like-this").status == 422) // id is required
  }

  test("suggest and spell: ranked vocab hits, required params enforced") {
    val sug = get("/api/suggest", "prefix" -> "s", "count" -> "3")
    assert(sug.status == 200, sug.body)
    val terms = "\"term\":\"([a-z0-9]+)\"".r.findAllMatchIn(sug.body)
      .map(_.group(1)).toSeq
    assert(terms.nonEmpty && terms.size <= 3 && terms.forall(_.startsWith("s")),
      sug.body)
    val sp = get("/api/spell", "term" -> "spak")
    assert(sp.status == 200, sp.body)
    assert(sp.body.contains("\"term\":\"spark\""), sp.body)
    assert(get("/api/suggest").status == 422)
    assert(get("/api/spell").status == 422)

    // both are served from the prebuilt termstats artifact: one filtered
    // vocab scan, no Generate (explode) re-tokenizing documents per request
    val vocab = spark.read.parquet(
      s"${graft.index.Bm25Index.ensure(spark, Sf0001)}/termstats")
      .where(org.apache.spark.sql.functions.col("term").startsWith("s"))
    val plan = vocab.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan)
    val roots = scanRoots(vocab)
    assert(roots.exists(_.endsWith("termstats")), roots)
    assert(!roots.exists(_.endsWith("documents.parquet")), roots)
  }

  test("batch-search: per-query blocks equal N single /api/query calls") {
    // second query repeats a token: the single path dedupes terms via
    // isin, and the batch must match it (distinct'd term rows)
    val queries = Seq("spark join filter the data", "vector scan batch vector")
    for (mode <- Seq("dense", "sparse", "hybrid", "graph")) {
      val r = get("/api/batch-search",
        "queries" -> queries.mkString("||"), "mode" -> mode, "count" -> "5")
      assert(r.status == 200, s"$mode: ${r.body}")
      assert(r.body.contains("\"batch_size\":2"), r.body)
      for (q <- queries) {
        val single = get("/api/query", "q" -> q, "mode" -> mode, "count" -> "5")
        // the single path's hits, as the batch block serializes them
        val hits = "\\{\"id\":\\d+,\"score\":[-0-9.E]+\\}".r
          .findAllIn(single.body).mkString(",")
        assert(r.body.contains(s"""{"query":"$q","results":[$hits]}"""),
          s"$mode/$q:\nbatch=${r.body}\nsingle=${single.body}")
      }
    }
    // graph=grown: batch blocks (one-plan batched walk over the grown
    // root's merged segments) equal the single grown route (seek walk) —
    // the seek ≡ walk equality holding across the API boundary
    val rg = get("/api/batch-search", "queries" -> queries.mkString("||"),
      "mode" -> "graph", "graph" -> "grown", "count" -> "5")
    assert(rg.status == 200, rg.body)
    for (q <- queries) {
      val single = get("/api/query", "q" -> q, "mode" -> "graph",
        "graph" -> "grown", "count" -> "5")
      val hits = "\\{\"id\":\\d+,\"score\":[-0-9.E]+\\}".r
        .findAllIn(single.body).mkString(",")
      assert(rg.body.contains(s"""{"query":"$q","results":[$hits]}"""),
        s"grown/$q:\nbatch=${rg.body}\nsingle=${single.body}")
    }
    assert(get("/api/batch-search", "queries" -> "x", "mode" -> "graph",
      "graph" -> "zzz").status == 400)
    assert(get("/api/batch-search", "queries" -> " || ").status == 400)
    assert(get("/api/batch-search", "queries" -> "x", "mode" -> "nope").status == 400)
  }

  test("batch-search with a payload filter: blocks == the 3x-oversampled post-filter recompute; half a filter is a 400") {
    import org.apache.spark.sql.functions.col
    import graft.index.TfIdfIndex
    import graft.search.SearchEngine
    val q = "spark join filter"
    def expected(arm: org.apache.spark.sql.DataFrame) = arm
      .join(graft.tables.Tables.documents(spark, Sf0001)
        .select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .where(col("lang") === "en")
      .orderBy(col("score").desc, col("id").asc).limit(5)
      .collect().map(r => s"""{"id":${r.getLong(0)},"score":${r.getDouble(1)}}""")
      .mkString(",")
    // sparse arm: the batched filtered block must equal the single-query
    // topK at 3x, post-filtered, re-cut (batched == loop is pinned
    // elsewhere; this pins the filter composition on top)
    val rs = get("/api/batch-search", "queries" -> q, "mode" -> "sparse",
      "count" -> "5", "filter_field" -> "lang", "filter_value" -> "en")
    assert(rs.status == 200, rs.body)
    val expSparse = expected(
      SearchEngine.bm25TopK(spark, Sf0001, TfIdfIndex.tokensOf(q), 15))
    assert(rs.body.contains(s""""results":[$expSparse]"""),
      s"sparse:\nbatch=${rs.body}\nexpect=$expSparse")
    // graph arm: == the single filtered walk (graphSearchFiltered is
    // itself the 3x post-filter composition)
    val rgf = get("/api/batch-search", "queries" -> q, "mode" -> "graph",
      "count" -> "5", "filter_field" -> "lang", "filter_value" -> "en")
    assert(rgf.status == 200, rgf.body)
    val expGraph = SearchEngine
      .graphSearchFiltered(spark, Sf0001, q, "lang", "en", 5)
      .collect().map(r => s"""{"id":${r.getLong(0)},"score":${r.getDouble(1)}}""")
      .mkString(",")
    assert(rgf.body.contains(s""""results":[$expGraph]"""),
      s"graph:\nbatch=${rgf.body}\nexpect=$expGraph")
    assert(get("/api/batch-search", "queries" -> q,
      "filter_field" -> "lang").status == 400)
    // recall bound surfaced, not silent: a filtered block that
    // under-fills carries "exhausted":true — only the 3x-oversampled
    // head was filtered, so matches may exist deeper in the ranking —
    // and the response names the oversample factor
    val rz = get("/api/batch-search", "queries" -> q, "mode" -> "sparse",
      "count" -> "5", "filter_field" -> "lang",
      "filter_value" -> "zz-no-such-lang")
    assert(rz.status == 200, rz.body)
    assert(rz.body.contains(""""results":[],"exhausted":true"""), rz.body)
    assert(rz.body.contains(""""filter_oversample":3"""), rz.body)
    // a FULL filtered block carries no flag (the en sparse arm above
    // filled all 5 — re-assert against the same response body)
    if (expSparse.count(_ == '}') >= 5)
      assert(!rs.body.contains("exhausted"), rs.body)
  }

  test("similar-vectors: recommend-by-stored-point matches the engine, excludes self") {
    import org.apache.spark.sql.functions.col
    for (method <- Seq("graph", "ivf")) {
      val r = get("/api/similar-vectors",
        "ids" -> "0,3", "method" -> method, "count" -> "5")
      assert(r.status == 200, s"$method: ${r.body}")
      assert(r.body.contains("\"batch_size\":2"), r.body)
      // no block may contain its own query id
      for (qid <- Seq(0L, 3L)) {
        val block = s"""\\{"id":$qid,"results":\\[([^\\]]*)\\]\\}""".r
          .findFirstMatchIn(r.body).map(_.group(1)).getOrElse(fail(r.body))
        assert(!block.contains(s"""{"id":$qid,"""), s"$method qid=$qid: $block")
        assert(block.contains("\"score\":"), s"$method qid=$qid empty: ${r.body}")
      }
    }
    // graph blocks equal a direct batched walk with self dropped
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val qs = emb.where(col("vec_id").isin(0L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val edges = graft.index.KnnGraphIndex.edges(spark, Sf0001, 3, 5)
    val direct = graft.search.Ann.graphTopKBatched(edges, emb, qs,
        graft.search.Ann.hierEntriesBatched(emb, qs, 16, 3),
        beam = 8, hops = 2, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val r = get("/api/similar-vectors", "ids" -> "0,3", "count" -> "5")
    for (qid <- Seq(0L, 3L)) {
      val expect = direct(qid).filter(_._2 != qid).take(5)
        .map(t => s"""{"id":${t._2},"score":${t._3}}""").mkString(",")
      assert(r.body.contains(s"""{"id":$qid,"results":[$expect]}"""),
        s"qid=$qid:\nroute=${r.body}\nexpect=$expect")
    }
    assert(get("/api/similar-vectors", "ids" -> "", "count" -> "5").status == 400)
    assert(get("/api/similar-vectors", "ids" -> "0", "method" -> "nope").status == 400)
  }

  // LAST in the suite by design: folding mutates the shared grown-root
  // fixture's clocks (version 3 -> 4), which the index-stats test above
  // pins for the unfolded state; reads stay identical by construction
  // (the fold stores each row's logical horizon), which is exactly what
  // this test asserts end-to-end.
  test("admin tail-fold: in-place bounded-write compaction of the live grown root; serving identical through the rebuilt caches") {
    import graft.index.{IncrementalKnn, TfIdfGraphIndex}
    // fresh fixture: this test folds the shared persistent root, so its
    // own clock pins (and any rerun of this suite) need a virgin build
    graft.index.IndexCatalog.invalidate(Sf0001, TfIdfGraphIndex.IncName)
    val q = "spark join filter"
    val before = get("/api/query", "q" -> q, "mode" -> "graph",
      "graph" -> "grown", "count" -> "5")
    assert(before.status == 200, before.body)
    val src = TfIdfGraphIndex.ensureGrown(spark, Sf0001)
    val fanBefore = IncrementalKnn.fanIn(src)
    val r = get("/api/admin/tail-fold")
    assert(r.status == 200, r.body)
    assert(r.body.contains(s""""fan_in_before":$fanBefore"""), r.body)
    assert(r.body.contains(""""fan_in_after":2"""), r.body)
    assert(IncrementalKnn.fanIn(src) == 2)
    // serving resumes identically: the mutation clock bumped, so the
    // cached serving frames rebuilt from the folded segments
    val after = get("/api/query", "q" -> q, "mode" -> "graph",
      "graph" -> "grown", "count" -> "5")
    assert(after.status == 200 && after.body == before.body,
      s"before=${before.body}\nafter=${after.body}")
    // the health surface reads the folded root without complaint and
    // reports the shrunk READ fan-in (the version clock keeps counting)
    val st = get("/api/admin/index-stats")
    assert(st.status == 200 && st.body.contains("\"n_stale_srcs\":0"), st.body)
    assert(st.body.contains("\"read_fan_in\":2"), st.body)
    assert(st.body.contains("\"index_version\":4"), st.body)

    // max_segments routes through the size-tiered trigger: fan-in 2 is
    // within the bound, so the trigger no-ops (no version bump, no
    // ladder warning — nothing folded)
    val noop = get("/api/admin/tail-fold", "max_segments" -> "5")
    assert(noop.status == 200, noop.body)
    assert(noop.body.contains(""""fan_in_before":2"""), noop.body)
    assert(noop.body.contains(""""fan_in_after":2"""), noop.body)
    assert(!noop.body.contains("ladder_warning"), noop.body)
    assert(IncrementalKnn.version(src) == 4)

    // the single-writer contract is CHECKED at the route: a concurrent
    // writer (here: a paused append holding the root's lease) turns the
    // fold into a loud 409, never a silent sweep of in-flight segments
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.index.SegmentStore.withWriterLease(src, "paused-append") {
        entered.countDown(); release.await()
      })
    holder.start(); entered.await()
    val refused = get("/api/admin/tail-fold")
    assert(refused.status == 409, s"${refused.status}: ${refused.body}")
    release.countDown(); holder.join()

    // the deep-clean route: reclaim-fold bakes the (empty) ledger state
    // into one segment and rebases — fan-in 2 -> 1, serving identical
    // through the rebuilt caches
    val rf = get("/api/admin/reclaim-fold")
    assert(rf.status == 200, rf.body)
    assert(rf.body.contains(""""fan_in_after":1"""), rf.body)
    assert(IncrementalKnn.fanIn(src) == 1)
    val afterReclaim = get("/api/query", "q" -> q, "mode" -> "graph",
      "graph" -> "grown", "count" -> "5")
    assert(afterReclaim.status == 200 && afterReclaim.body == before.body,
      s"before=${before.body}\nafterReclaim=${afterReclaim.body}")

    // gate refusal end-to-end: delete a served neighbor (holes appear,
    // no repair) -> the route refuses with 422 and a actionable message
    val victim = graft.index.IncrementalKnn.edges(spark, src, 5)
      .where(org.apache.spark.sql.functions.col("rank") === 1)
      .select(org.apache.spark.sql.functions.col("dst")).head().getLong(0)
    import spark.implicits._
    graft.index.IncrementalKnn.delete(Seq(victim).toDF("vec_id"), src,
      tag = Some("api_rf_del"))
    val gate = get("/api/admin/reclaim-fold")
    assert(gate.status == 422, s"${gate.status}: ${gate.body}")
    assert(gate.body.contains("repair"), gate.body)
    // heal, then the fold proceeds
    graft.index.IncrementalKnn.repair(spark, src, 3, 5,
      tag = Some("api_rf_repair"))
    val healed = get("/api/admin/reclaim-fold")
    assert(healed.status == 200, healed.body)
    assert(healed.body.contains(""""n_tombstoned_ids":0"""), healed.body)

    // the delete above CHANGED SERVING on the shared persistent fixture
    // (unlike the folds, which are serving-identical) — drop the tree so
    // every later consumer (including the driver's s28b oracle run in a
    // fresh JVM) rebuilds virgin instead of reading a mutated corpus
    graft.index.IndexCatalog.invalidate(Sf0001, TfIdfGraphIndex.IncName)
  }

  test("warm requests: dense/sparse/hybrid/fusion/filtered run 2/2/3/4/3 jobs, none a parquet schema inference") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "serve-api-warm-jobs"
    // stage names of each job the tagged request started
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag)))
          jobs.add(e.stageInfos.map(_.name))
    }
    sc.addSparkListener(listener)
    try {
      val q = "spark join filter"
      val routes = Seq(
        ("dense", "/api/query", Seq("mode" -> "dense"), 2),
        ("sparse", "/api/query", Seq("mode" -> "sparse"), 2),
        ("hybrid", "/api/query", Seq("mode" -> "hybrid"), 3),
        ("fusion", "/api/search/fusion", Seq.empty, 4),
        ("filtered", "/api/query",
          Seq("mode" -> "dense", "filter_field" -> "lang", "filter_value" -> "en"), 3))
      for ((name, path, extra, expected) <- routes) {
        val params = Seq("q" -> q, "count" -> "10") ++ extra
        assert(get(path, params: _*).status == 200, name) // untimed first call
        org.apache.spark.TestBus.drain(sc)
        jobs.clear()
        sc.addJobTag(tag)
        val r = try get(path, params: _*) finally sc.removeJobTag(tag)
        assert(r.status == 200, s"$name: ${r.body}")
        org.apache.spark.TestBus.drain(sc)
        val seen = jobs.asScala.toSeq
        assert(!seen.flatten.exists(_.startsWith("parquet at")),
          s"$name ran a schema-inference job: $seen")
        assert(seen.size == expected, s"$name: ${seen.size} jobs, want $expected: $seen")
      }
    } finally sc.removeSparkListener(listener)
  }
}
