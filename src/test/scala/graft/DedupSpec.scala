package graft

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "quick brown the fox dog lazy the over jumps", "en"), // same token set
    (3L, "the quick brown fox jumps over the lazy cat", "en"), // near-dup of 1
    (4L, "completely different words here about spark engines", "en"),
    (5L, "unrelated short text", "de")).toDF("doc_id", "text", "lang")

  test("exact dedup groups by sorted distinct token set") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(groups.toSeq == Seq((1L, 2L))) // docs 1+2 collapse, keeper=min id
  }

  test("ngram jaccard finds the near-dup pair and scores identity as 1.0") {
    val self = Dedup.ngramJaccard(
      docs.union(docs.where($"doc_id" === 1).withColumn("doc_id", $"doc_id" + 100)),
      "doc_id", "text", "lang", 3, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(self.toSeq == Seq((1L, 101L, 1.0))) // identical text -> jaccard exactly 1

    val near = Dedup.ngramJaccard(docs, "doc_id", "text", "lang", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.contains((1L, 3L))) // one word changed -> high shingle overlap
  }

  test("size-gated jaccard join equals the brute-force all-pairs reference at every threshold") {
    // r16 rewrite pin: sizes ride the inverted index and a size-ratio
    // gate prunes inside the pair join — output must equal the plain
    // array_intersect all-pairs form bit-for-bit, INCLUDING boundary
    // pairs where round(jaccard, 6) lands exactly on the threshold
    // (J = 1/10 at t = 0.1 below: the gate must not drop it).
    import org.apache.spark.sql.functions._
    val corpus = docs.union(Seq(
      // tiny doc (1 shingle) fully contained in a 10-shingle doc:
      // jaccard exactly 0.1 — the t=0.1 gate-boundary case
      (6L, "alpha beta gamma", "en"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu", "en"))
      .toDF("doc_id", "text", "lang"))
    val sh = corpus.select(col("doc_id"), col("lang"),
      graft.functions.TextOps.shingles(
        graft.functions.TextOps.tokens(col("text")), 3).as("s"))
    for (t <- Seq(0.1, 0.3, 0.5, 0.99)) {
      val got = Dedup.ngramJaccard(corpus, "doc_id", "text", "lang", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val ref = sh.as("a").join(sh.as("b"),
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
            size(array_union(col("a.s"), col("b.s"))), 6).as("j"))
        .where(col("j") >= t)
        .orderBy(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == ref, s"threshold $t")
      if (t == 0.1) assert(got.exists { case (a, b, j) =>
        a == 6L && b == 7L && j == 0.1 }, s"boundary pair missing: $got")
    }
  }

  test("lsh candidate pair survives a truncated first shared band") {
    import org.apache.spark.sql.functions.{col, struct}
    // Hand-crafted band rows (16 perms, 4 bands x 4 rows): docs a, z and
    // x1..x4 ALL share band 0; only a and z also share band 1; bands 2/3
    // are unique per doc. Band key format mirrors minhashLsh's
    // format_string("%02d:%d") contract.
    def key(b: Int, slice: Seq[Long]): String =
      slice.zipWithIndex.map { case (v, r) => f"${b * 4 + r}%02d:$v%d" }.mkString(",")
    val ids = Seq("a", "z", "x1", "x2", "x3", "x4")
    val rows = ids.zipWithIndex.flatMap { case (id, i) =>
      val band1 = if (id == "a" || id == "z") Seq(7L, 7L, 7L, 7L)
                  else Seq(i + 10L, 0L, 0L, 0L)
      val sigs = Seq(0L, 0L, 0L, 0L) ++ band1 ++
        Seq(100L + i, 0L, 0L, 0L) ++ Seq(200L + i, 0L, 0L, 0L)
      (0 until 4).map { b =>
        (id, sigs.toArray, b, key(b, sigs.slice(b * 4, b * 4 + 4)))
      }
    }
    val bands = rows.toDF("id", "sigs", "band_id", "band")
      .select(struct(col("id"), col("sigs")).as("m"), col("band_id"), col("band"))

    // Cap 3: band-0 bucket holds all six, sorted prefix a,x1,x2 (cutoff
    // x2) — z is DROPPED there. The old first-shared-band rule suppressed
    // (a,z) at band 1 because the band-0 slices are equal; the
    // truncation-aware rule recovers it from band 1's intact {a,z} bucket.
    val pairs = Dedup.lshCandidates(bands, 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pairs.contains(("a", "z")), s"pair lost to truncation: $pairs")
    assert(pairs.count(_ == ("a", "z")) == 1) // emitted exactly once
    // Band-0 survivors still pair among themselves...
    assert(pairs.contains(("a", "x1")) && pairs.contains(("x1", "x2")))
    // ...and members dropped everywhere stay lost (flagged by the metric).
    assert(!pairs.exists(p => p._1.startsWith("x3") || p._2.startsWith("x3")))

    // Without overflow the same input emits every band-0 pair exactly once
    // (pure first-shared-band rule, zero-truncation fast path).
    val full = Dedup.lshCandidates(bands, 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(full.size == 15 && full.distinct.size == 15)
    assert(full.contains(("a", "z")))
  }

  test("lsh overflow size gate: past the gate the dedup-shuffle path emits the identical pair set") {
    import org.apache.spark.sql.functions.{col, struct}
    def key(b: Int, slice: Seq[Long]): String =
      slice.zipWithIndex.map { case (v, r) => f"${b * 4 + r}%02d:$v%d" }.mkString(",")
    // 80 disjoint 5-member clusters — more than OverflowSuppressGate (64)
    // — each overflowing its cap-3 band-0 bucket; within each cluster the
    // two lexicographically-smallest ids (both RETAINED by the cap) also
    // share band 1. The degenerate-corpus shape the gate exists for.
    val rows = (0 until 80).flatMap { g =>
      (0 until 5).flatMap { i =>
        val id = f"g$g%03d-$i"
        val band1 = if (i < 2) Seq(7L + g, 7L, 7L, 7L)
                    else Seq(1000L + g * 10 + i, 0L, 0L, 0L)
        val sigs = Seq(g.toLong, 0L, 0L, 0L) ++ band1 ++
          Seq(100L + g * 10 + i, 0L, 0L, 0L) ++ Seq(200L + g * 10 + i, 0L, 0L, 0L)
        (0 until 4).map { b =>
          (id, sigs.toArray, b, key(b, sigs.slice(b * 4, b * 4 + 4)))
        }
      }
    }
    val bands = rows.toDF("id", "sigs", "band_id", "band")
      .select(struct(col("id"), col("sigs")).as("m"), col("band_id"), col("band"))
    assert(80 > Dedup.OverflowSuppressGate)
    // expression-chain path (gate forced high) vs dedup-shuffle path
    // (gate forced to 0) vs the default gate (80 overflows > 64: join)
    val viaChain = Dedup.lshCandidates(bands, 3, overflowGate = 10000)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaJoin = Dedup.lshCandidates(bands, 3, overflowGate = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaDefault = Dedup.lshCandidates(bands, 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaJoin == viaChain, "gate changed the pair set")
    assert(viaDefault == viaChain)
    // 3 retained pairs per cluster, none across clusters
    assert(viaChain.size == 240)
    assert(viaChain.contains(("g000-0", "g000-1")))
    assert(!viaChain.exists(p => p._1.take(4) != p._2.take(4)))
  }

  test("minhash lsh proposes and confirms the identical pair") {
    val withClone = docs.union(
      docs.where($"doc_id" === 1).withColumn("doc_id", $"doc_id" + 100))
    val pairs = Dedup.minhashLsh(withClone, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 101L && p._3 == 1.0))
  }

  test("minhash lsh: shuffled semi-join prune (no broadcast) is value-identical") {
    val withClone = docs.union(
      docs.where($"doc_id" === 1).withColumn("doc_id", $"doc_id" + 100))
    val hinted = Dedup.minhashLsh(withClone, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // limit 0 forces the over-threshold arm: the candidate-id prune runs as
    // a shuffled semi-join, the shape a 100 TB crawl corpus (candIds far
    // over broadcast size) would take
    val shuffled = Dedup.minhashLsh(withClone, "doc_id", "text", 3, 0.5,
        broadcastCandLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(hinted == shuffled)
    assert(hinted.exists(p => p._1 == 1L && p._2 == 101L && p._3 == 1.0))
  }

  test("barrier modes (local / reliable) are value-identical") {
    val withClone = docs.union(
      docs.where($"doc_id" === 1).withColumn("doc_id", $"doc_id" + 100))
    val ccPairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    def runAll(): (Seq[(Long, Long, Double)], Map[Long, Long], Long) = (
      Dedup.minhashLsh(withClone, "doc_id", "text", 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      Dedup.connectedComponents(ccPairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      Dedup.winnowingPairs(withClone, "doc_id", "text", minShared = 2).count())
    val local = runAll() // default mode
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    spark.conf.set(Dedup.BarrierModeKey, "reliable")
    try assert(runAll() == local, "mode reliable diverged")
    finally spark.conf.unset(Dedup.BarrierModeKey)
  }

  test("an unknown barrier mode is rejected, naming the accepted values") {
    for (mode <- Seq("persist", "checkpoint")) {
      spark.conf.set(Dedup.BarrierModeKey, mode)
      try {
        val e = intercept[IllegalArgumentException](Dedup.barrier(docs))
        assert(e.getMessage.contains("'local' or 'reliable'") &&
          e.getMessage.contains(mode), e.getMessage)
      } finally spark.conf.unset(Dedup.BarrierModeKey)
    }
  }

  test("connected components: chains, triangles and singles resolve to min-id keepers") {
    // components: {1,2,3,4} (a chain), {10,11,12} (a triangle), {20,21}
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connected components: long path needs multiple propagation rounds") {
    // a 12-node path with the min id at one END — worst case for
    // min-label propagation (label must walk the whole diameter)
    val path = (1 to 11).map(i => (i.toLong + 100L, i.toLong + 101L))
    val pairs = (path :+ ((112L, 1L))).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet == Set(1L)) // everything collapses to keeper 1
    assert(cc.size == 13)
  }

  test("lsh bucket-cap truncation is observable via named metrics") {
    // simhashPairs: the observe node sits in the final query, so the
    // metrics ride the result's own QueryExecution
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", 3)
    sim.collect()
    val m = sim.queryExecution.observedMetrics
    val key = s"${Dedup.BucketStatsMetric}_simhash"
    assert(m.contains(key), m.keys.toSeq)
    assert(m(key).getAs[Long]("truncated_buckets") == 0L)
    assert(m(key).getAs[Int]("max_bucket_size") >= 2)

    // minhashLsh: candidates are materialized by localCheckpoint, so the
    // metric fires on THAT execution — observable the production way, via
    // a QueryExecutionListener (events deliver asynchronously; poll)
    val seen = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => seen.put(k, v) }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val withClone = docs.union(
        docs.where($"doc_id" === 1).withColumn("doc_id", $"doc_id" + 100))
      Dedup.minhashLsh(withClone, "doc_id", "text", 3, 0.5).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.containsKey(Dedup.BucketStatsMetric) &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(seen.containsKey(Dedup.BucketStatsMetric),
        seen.keySet().toString)
      assert(seen.get(Dedup.BucketStatsMetric).getAs[Long]("truncated_buckets") == 0L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("simhash: identical texts share a hash; disjoint texts differ") {
    val h = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 and 2 share the token multiset up to order (same tf per token)
    assert(h(1L) == h(2L))
    assert(h(1L) != h(4L))
    assert(h.values.forall(v => v >= 0 && v <= 0xFFFFFFFFL))
  }

  test("duplicated ngrams: shared trigrams raise dup_frac, unique docs stay clean") {
    // doc 1 vs 3 share all but the final trigram ("over the lazy dog/cat");
    // doc 4 and 5 share nothing with anyone.
    val all = Dedup.duplicatedNgrams(docs, "doc_id", "text", 3, 0.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // 7 distinct trigrams each; 6 shared between docs 1 and 3 (all but
    // the final "the lazy dog" / "the lazy cat") -> round(6/7, 6)
    assert(all(1L) == ((7L, 0.857143)))
    assert(all(3L) == ((7L, 0.857143)))
    assert(all(4L)._2 == 0.0)
    assert(all(5L)._2 == 0.0)
    // threshold filters to exactly the boilerplate-heavy docs
    val flagged = Dedup.duplicatedNgrams(docs, "doc_id", "text", 3, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.intersect(Set(4L, 5L)).isEmpty && flagged.contains(1L))
  }

  test("winnowing: window-count formula, identical texts share digests, short docs absent") {
    import spark.implicits._
    val w = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // 9 tokens
      (2L, "the quick brown fox jumps over the lazy dog"), // identical twin
      (3L, "completely different words about spark catalyst internals here"), // 8 tokens
      (4L, "too short here")) // 3 tokens < k + w - 1 = 6
      .toDF("doc_id", "text")
    val out = Dedup.winnowedFingerprints(w, "doc_id", "text", 3, 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "short doc must be absent")
    // n_windows = n_grams - w + 1 = (n_tokens - k + 1) - w + 1
    assert(out(1L)._1 == 4 && out(3L)._1 == 3, out.toString)
    assert(out(1L) == out(2L), "identical texts must fingerprint identically")
    assert(out(1L)._3 != out(3L)._3, "different texts should digest differently")
    // fingerprints are a subset of window minima: 1 <= n_fps <= n_windows
    out.values.foreach { case (nw, nf, _) => assert(nf >= 1 && nf <= nw) }
  }

  test("winnowing pairs: identical twins share every fingerprint, unrelated docs never pair") {
    import spark.implicits._
    val w = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "the quick brown fox jumps over the lazy dog tonight again"), // twin of 1
      (3L, "totally unrelated content about catalyst expression codegen rules"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowedFingerprints(w, "doc_id", "text", 3, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val pairs = Dedup.winnowingPairs(w, "doc_id", "text", 3, 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.keySet == Set((1L, 2L)), pairs.toString)
    assert(pairs((1L, 2L)) == fps(1L), "twins must share every fingerprint")
    // raising the threshold above the twin's fingerprint count empties it
    val none = Dedup.winnowingPairs(w, "doc_id", "text", 3, 4,
      minShared = fps(1L).toInt + 1).count()
    assert(none == 0)
  }

  test("boilerplate strip drops every occurrence of cross-doc chunks, keeps unique tails") {
    // chunkSize=4: docs 1 and 3 share chunks "the quick brown fox" and
    // "jumps over the lazy"; their tails ("dog"/"cat") are unique. Doc 2
    // is a scramble — every chunk unique.
    val out = Dedup.boilerplateStrip(docs, chunkSize = 4, maxDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 2L, "dog")), out(1L).toString)
    assert(out(3L) == ((3L, 2L, "cat")), out(3L).toString)
    assert(out(2L)._2 == 0L && out(2L)._3.nonEmpty) // scramble untouched
    assert(out(4L)._2 == 0L && out(5L)._2 == 0L)
  }

  test("bloom gate equals the exact anti-join; flags no false negatives and only a sliver") {
    import org.apache.spark.sql.functions._
    import graft.functions.BloomGate
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
    val blocklist = corpus.where(col("source") === "src3").select(col("text"))
    val gate = BloomGate.blocklistDrop(corpus, col("text"), blocklist, col("text"), 1000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = corpus
      .join(blocklist.withColumnRenamed("text", "bt"), col("text") === col("bt"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gate == exact && exact.nonEmpty)

    val total = corpus.count()
    val blocked = total - exact.size
    assert(blocked > 0, "fixture must block something")
    val bloom = BloomGate.build(blocklist, col("text"), 1000L).get
    val flagged = corpus.where(BloomGate.mightContain(bloom, col("text"))).count()
    assert(flagged >= blocked, "bloom false negative: a blocked row escaped the flag")
    // confirm-join input is blocked + fpp-sized noise, not the corpus
    assert(flagged <= blocked + math.max(8L, (0.05 * total).toLong),
      s"bloom barely prunes: flagged=$flagged blocked=$blocked total=$total")

    // empty blocklist: degenerate gate keeps everything
    val kept = BloomGate.blocklistDrop(corpus, col("text"), blocklist.limit(0),
      col("text"), 10L).count()
    assert(kept == total)
  }

  test("decontamination flags exactly the overlapping docs and apply drops them") {
    import org.apache.spark.sql.functions.col
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words here about spark engines"),
      (3L, "prefix tokens then the quick brown fox tail")) // shares one 4-gram with bench
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox leaps")).toDF("doc_id", "text")

    val flagged = Dedup.decontaminate(train, bench, "doc_id", "text", 4, 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1 and 3 contain "the quick brown fox"; doc 2 shares nothing
    assert(flagged == Set((1L, 1L), (3L, 1L)))

    val clean = Dedup.decontaminateApply(train, bench, "doc_id", "text", 4, 100L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(clean == Seq(2L))

    // degenerate: empty benchmark contaminates nothing
    assert(Dedup.decontaminate(train, bench.limit(0), "doc_id", "text", 4, 100L)
      .count() == 0L)
    assert(Dedup.decontaminateApply(train, bench.limit(0), "doc_id", "text", 4, 100L)
      .count() == 3L)
  }

  test("exact-substr: first occurrence survives, later copies cut, remainder kept") {
    // w=4; "a b c d" occurs in doc 1 (start 0), doc 2 (start 1) and AGAIN
    // in doc 2 (start 5, a self-repeat); doc 3 is untouched
    val corpus = Seq(
      (1L, "a b c d tail1 tail2"),
      (2L, "head a b c d a b c d"),
      (3L, "totally unrelated text right here"))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(corpus, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1 holds the corpus-wide first (1,0): nothing removed
    assert(out(0) == ((1L, 6L, 0L, "a b c d tail1 tail2")), out(0).toString)
    // doc 2: duplicated occurrences at starts 1 and 5 cover tokens
    // [1,5) ∪ [5,9) — everything after "head" goes
    assert(out(1)._1 == 2L && out(1)._2 == 9L, out(1).toString)
    assert(out(1)._4 == "head", out(1).toString)
    assert(out(1)._3 == 8L, out(1).toString)
    // doc 3 untouched
    assert(out(2) == ((3L, 5L, 0L, "totally unrelated text right here")), out(2).toString)
    // degenerate: doc shorter than w has no grams and passes through
    val short = Dedup.exactSubstrDedup(
      Seq((9L, "just three tokens")).toDF("doc_id", "text"), "doc_id", "text", 4)
      .collect()
    assert(short.head.getLong(2) == 0L &&
      short.head.getString(3) == "just three tokens")
  }

  test("containment catches subset dups that jaccard dilutes") {
    // doc 2 is doc 1's prefix: every shingle of 2 appears in 1, but 1 is
    // 4x longer -> jaccard ~ |B|/|A| stays low while containment = 1.0
    val long = (1 to 40).map("w" + _).mkString(" ")
    val sub = (1 to 10).map("w" + _).mkString(" ")
    val d = Seq((1L, long, "en"), (2L, sub, "en"), (3L, "other stuff entirely", "en"))
      .toDF("doc_id", "text", "lang")
    val cont = Dedup.ngramContainment(d, "doc_id", "text", "lang", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), cont.mkString(","))
    val jac = Dedup.ngramJaccard(d, "doc_id", "text", "lang", 3, 0.8)
      .collect()
    assert(jac.isEmpty, "symmetric jaccard must miss the subset pair at 0.8")
  }

  test("bloom fpp self-check: disjoint probes measure within 5x the requested rate") {
    import graft.functions.BloomGate
    import org.apache.spark.sql.functions.{col, lit, concat}
    val keys = (0L until 2000L).map(i => Tuple1(s"key_$i")).toDF("k")
    val bloom = BloomGate.build(keys, col("k"), 2000L, fpp = 0.01).get
    val probes = (0L until 2000L).map(i => Tuple1(s"other_$i")).toDF("k")
    val hits = probes
      .where(BloomGate.mightContain(bloom, col("k"))).count()
    val measured = hits.toDouble / 2000
    assert(measured <= 0.05, f"measured fpp $measured%.4f exceeds 5x requested 0.01")
    // no false negatives ever
    assert(keys.where(BloomGate.mightContain(bloom, col("k"))).count() == 2000L)
  }

  test("minhash signatures are permutation-count complete and stable") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3)
    val counts = sigs.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == Dedup.MinhashPerms))
    // deterministic: same input -> same signature values on re-run
    val a = sigs.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Dedup.minhashSignatures(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
  }
}
