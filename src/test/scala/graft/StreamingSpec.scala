package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.DeltaStream

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed event counts with watermark over a micro-batch stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val q = DeltaStream.windowedEventCounts(events, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 00:07:00"), "view", 5.0))
      q.processAllAvailable()
      val out = spark.table("win_counts")
        .select(col("window.start").cast("string"), col("event_type"),
          col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(out == Set(
        ("2024-01-01 00:00:00", "click", 2L, 3.0),
        ("2024-01-01 00:05:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("chunkWindows streams unchanged: per-row op, no state, batch-identical output") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, (1 to 40).map("t" + _).mkString(" ")), (2L, "a b"))
    val input = MemoryStream[(Long, String)]
    val q = graft.functions.TextOps
      .chunkWindows(input.toDF().toDF("doc_id", "text"), "doc_id", "text", 16, 12)
      .writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    try {
      input.addData(rows.head); q.processAllAvailable()
      input.addData(rows.last); q.processAllAvailable()
      val streamed = spark.table("chunk_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val batch = graft.functions.TextOps
        .chunkWindows(rows.toDF("doc_id", "text"), "doc_id", "text", 16, 12)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops reordered-token duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")

    val q = DeltaStream.streamingDedup(docs, "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox", Timestamp.valueOf("2024-01-01 00:01:00")),
        (2L, "completely different text", Timestamp.valueOf("2024-01-01 00:01:30")))
      q.processAllAvailable()
      input.addData( // same token SET as doc 1, reordered + repeated -> dup
        (3L, "fox brown the quick the", Timestamp.valueOf("2024-01-01 00:02:00")),
        (4L, "genuinely new content", Timestamp.valueOf("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L)) // 3 deduped against 1's key
    } finally q.stop()
  }

  test("percolateIngest: per-batch alert matches union to the batch percolation") {
    implicit val sqlCtx = spark.sqlContext
    import graft.search.Percolate
    val alerts = Seq((1, Seq("spark", "join")), (2, Seq("scan")))
      .toDF("alert_id", "terms")
    val rows = Seq(
      (1L, "spark join fast"),            // fires 1
      (2L, "join only"),                  // fires nothing (conjunction)
      (3L, "scan the table"),             // fires 2
      (4L, "spark scan join"))            // fires 1 AND 2
    val out = java.nio.file.Files.createTempDirectory("perc-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("perc-ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = DeltaStream.percolateIngest(
      input.toDF().toDF("doc_id", "text"), alerts, out, ckpt)
    try {
      input.addData(rows.take(2): _*); q.processAllAvailable()
      input.addData(rows.drop(2): _*); q.processAllAvailable()
      val streamed = spark.read.parquet(out).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
      val batch = Percolate.matches(
          rows.toDF("doc_id", "text"), alerts, "doc_id", "text")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(batch == Set((1, 1L), (2, 3L), (1, 4L), (2, 4L)), batch)
    } finally q.stop()
  }

  test("indexCdcIngest: BM25 changelog — deletes leave topK same trigger (stale stats), inserts searchable; == direct build+delete") {
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalBm25
    import spark.implicits._
    val all = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-bmcdc").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-ck").toString
    val half1 = all.where(col("doc_id") % 2 === 0)
      .collect().map(r => ("I", r.getLong(0), r.getString(1)))
    val half2 = all.where(col("doc_id") % 2 === 1)
      .collect().map(r => ("I", r.getLong(0), r.getString(1)))
    val input = MemoryStream[(String, Long, String)]
    val q = DeltaStream.indexCdcIngest(
      input.toDF().toDF("op", "doc_id", "text"), root, ckpt)
    try {
      input.addData(half1.toSeq); q.processAllAvailable()
      // trigger 2: delete two docs + append the other half
      input.addData(Seq(("D", 2L, ""), ("D", 4L, "")) ++ half2.toSeq: _*)
      q.processAllAvailable()
      // trigger 3: in-place UPDATE of doc 6's text (op = U, same id)
      input.addData(("U", 6L, "zzcdcmarker zzcdcmarker"))
      q.processAllAvailable()
    } finally q.stop()

    def hits(r: String, terms: Seq[String] = Seq("data", "query")) =
      IncrementalBm25.topK(spark, r, "doc_id", terms, 500)
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val streamed = hits(root)
    assert(!streamed.exists(h => h._1 == 2L || h._1 == 4L))
    assert(!streamed.exists(_._1 == 6L)) // old text gone
    assert(hits(root, Seq("zzcdcmarker")).map(_._1) == Seq(6L)) // new serves
    // twin root built directly with the same partitions + delete/upsert set
    val twin = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-tw").toString + "/i"
    IncrementalBm25.init(all.where(col("doc_id") % 2 === 0), "doc_id", "text",
      twin, numFiles = 1)
    IncrementalBm25.delete(Seq(2L, 4L).toDF("doc_id"), "doc_id", twin)
    IncrementalBm25.append(all.where(col("doc_id") % 2 === 1), "doc_id", "text",
      twin, numFiles = 1)
    IncrementalBm25.upsert(Seq((6L, "zzcdcmarker zzcdcmarker"))
      .toDF("doc_id", "text"), "doc_id", "text", twin, numFiles = 1)
    assert(streamed == hits(twin) && streamed.nonEmpty)
  }

  test("indexCdcIngest with seqCol: one trigger carrying several ops per key collapses to the NET op (r10 ADVICE)") {
    // I-then-D must NOT resurrect (the delete's horizon would predate the
    // re-insert's segment), U-then-U must not double-append postings, and
    // D-then-I must revive under the re-insert — all inside ONE trigger,
    // ordered by the changelog's own seq column.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalBm25
    import spark.implicits._
    val all = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-seq").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-seq-ck").toString
    val seed = all.where(col("doc_id") < 40)
      .collect().map(r => ("I", r.getLong(0), r.getString(1)))
    val input = MemoryStream[(String, Long, String, Long)]
    val q = DeltaStream.indexCdcIngest(
      input.toDF().toDF("op", "doc_id", "text", "seq"), root, ckpt,
      seqCol = Some("seq"))
    try {
      input.addData(seed.zipWithIndex.map { case ((o, i, t), s) =>
        (o, i, t, s.toLong) }.toSeq)
      q.processAllAvailable()
      // ONE trigger, three interleavings:
      //   id 900: I then D            -> net absent
      //   id 6:   U then U            -> net = the LAST text, once
      //   id 8:   D then I (re-add)   -> net = the new text
      input.addData(
        ("I", 900L, "zzephemeral zzephemeral", 0L),
        ("U", 6L, "zzfirstversion zzfirstversion", 1L),
        ("D", 900L, "", 2L),
        ("D", 8L, "", 3L),
        ("U", 6L, "zzsecondversion zzsecondversion", 4L),
        ("I", 8L, "zzrevived zzrevived", 5L))
      q.processAllAvailable()
    } finally q.stop()

    def hits(r: String, terms: Seq[String]) =
      IncrementalBm25.topK(spark, r, "doc_id", terms, 500)
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(hits(root, Seq("zzephemeral")).isEmpty) // I-then-D stays dead
    assert(hits(root, Seq("zzfirstversion")).isEmpty) // first U superseded
    assert(hits(root, Seq("zzsecondversion")).map(_._1) == Seq(6L))
    assert(hits(root, Seq("zzrevived")).map(_._1) == Seq(8L))
    assert(!hits(root, Seq("data", "query")).exists(h =>
      h._1 == 900L || h._1 == 6L || h._1 == 8L)) // old versions gone

    // without seqCol a multi-op-per-key trigger is REFUSED loudly (the
    // order is unrecoverable), never silently misapplied
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-noseq").toString + "/i"
    val ckpt2 = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-noseq-ck").toString
    val input2 = MemoryStream[(String, Long, String)]
    val q2 = DeltaStream.indexCdcIngest(
      input2.toDF().toDF("op", "doc_id", "text"), root2, ckpt2)
    try {
      input2.addData(("I", 1L, "aa bb"), ("D", 1L, ""))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    } finally q2.stop()
  }

  test("indexCdcIngest: upsert-only triggers still reach the size-tiered fold (compaction not gated on inserts)") {
    // the common steady-state CDC shape is pure updates — without the
    // hoisted compaction check those triggers append segments forever
    // and never fold, so segment fan-in (and the tombstone ledger) grow
    // without bound
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalBm25
    import spark.implicits._
    val all = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-uc").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-uc-ck").toString
    val seed = all.where(col("doc_id") < 30)
      .collect().map(r => ("I", r.getLong(0), r.getString(1)))
    val input = MemoryStream[(String, Long, String)]
    val q = DeltaStream.indexCdcIngest(
      input.toDF().toDF("op", "doc_id", "text"), root, ckpt,
      maxSegments = 2)
    try {
      input.addData(seed.toSeq); q.processAllAvailable()
      // three UPDATE-ONLY triggers: each appends one upsert segment; the
      // second and third cross maxSegments=2 and must fold in place
      input.addData(("U", 3L, "zzucompact one")); q.processAllAvailable()
      input.addData(("U", 5L, "zzucompact two")); q.processAllAvailable()
      input.addData(("U", 7L, "zzucompact three")); q.processAllAvailable()
    } finally q.stop()
    assert(IncrementalBm25.version(root) > 4, "pure-U triggers never " +
      "folded — the fold is still gated on inserts")
    assert(IncrementalBm25.fanIn(root) <= 2,
      s"fold never ran: ${IncrementalBm25.fanIn(root)} segments")
    val hits = IncrementalBm25.topK(spark, root, "doc_id",
      Seq("zzucompact"), 10).collect().map(_.getLong(0)).toSet
    assert(hits == Set(3L, 5L, 7L))
  }

  test("maintenance streams refuse maxSegments < 2 before any trigger (the fold after a committed batch could never succeed)") {
    // the trigger's fold keeps the first segment and runs AFTER the
    // batch's rows commit: with maxSegments = 1 every trigger would commit
    // and then fail its fold, and every restart would skip the committed
    // half and fail again — a stream that never progresses
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalBm25
    val root = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-ms1").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bmcdc-ms1-ck").toString
    val input = MemoryStream[(String, Long, String)]
    val e = intercept[IllegalArgumentException] {
      DeltaStream.indexCdcIngest(input.toDF().toDF("op", "doc_id", "text"),
        root, ckpt, maxSegments = 1)
    }
    assert(e.getMessage.contains("maxSegments"), e.getMessage)
    assert(IncrementalBm25.version(root) == 0)
    // the removed compact-and-swap mode is refused by name, too
    val e2 = intercept[IllegalArgumentException] {
      DeltaStream.textGraphCdcIngest(input.toDF().toDF("op", "doc_id", "text"),
        Sf0001, root, ckpt, 3, 5, tailFoldCompaction = false)
    }
    assert(e2.getMessage.contains("compact-and-swap"), e2.getMessage)
  }

  test("textGraphCdcIngest convergence property: random interleaved I/U/D changelog == fresh build over the net document set (r10 VERDICT #6)") {
    // the order-of-operations space, swept instead of hand-picked: a
    // seeded random changelog (multi-op keys inside triggers, seq-ordered)
    // streams through the full delete+upsert+repair+append loop, and the
    // served graph must equal a one-shot rebuild over whatever documents
    // survive — for every seed.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.{IncrementalKnn, TfIdfGraphIndex}
    import graft.search.Ann
    import spark.implicits._
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 60)
    val words = Seq("merge", "stream", "window", "data", "filter", "join",
      "aggregate", "scan", "vector", "index", "probe", "walk")
    for (seedVal <- Seq(11L, 42L)) {
      val rnd = new scala.util.Random(seedVal)
      def text() = Seq.fill(4)(words(rnd.nextInt(words.length))).mkString(" ")
      val model = scala.collection.mutable.LinkedHashMap[Long, String]()
      corpus.collect().foreach(r => model(r.getLong(0)) = r.getString(1))
      var nextNew = 2000L + seedVal * 100

      val root = java.nio.file.Files
        .createTempDirectory(s"graft-cdc-prop$seedVal").toString + "/g"
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-cdc-prop-ck$seedVal").toString
      val denseCorpus = TfIdfGraphIndex.embedDocsDense(spark, Sf0001,
        corpus)
      val centroids = denseCorpus.where(col("vec_id") < 10)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      IncrementalKnn.init(denseCorpus, centroids, root, 3, 5)

      val input = MemoryStream[(String, Long, String, Long)]
      val q = DeltaStream.textGraphCdcIngest(
        input.toDF().toDF("op", "doc_id", "text", "seq"),
        Sf0001, root, ckpt, 3, 5, seqCol = Some("seq"))
      try {
        var seq = 0L
        for (_ <- 0 until 3) { // 3 triggers x 8 ops
          val ops = (0 until 8).map { _ =>
            seq += 1
            val live = model.keys.toIndexedSeq
            rnd.nextInt(4) match {
              case 0 => // insert a NEW key (valid changelogs never I an existing one)
                val id = nextNew; nextNew += 1
                val t = text(); model(id) = t; ("I", id, t, seq)
              case 1 if live.nonEmpty => // delete a live key
                val id = live(rnd.nextInt(live.size))
                model.remove(id); ("D", id, "", seq)
              case _ if live.nonEmpty => // update a live key in place
                val id = live(rnd.nextInt(live.size))
                val t = text(); model(id) = t; ("U", id, t, seq)
              case _ =>
                val id = nextNew; nextNew += 1
                val t = text(); model(id) = t; ("I", id, t, seq)
            }
          }
          input.addData(ops)
          q.processAllAvailable()
          // tailFold joins the random op alphabet (r12 VERDICT #5): a
          // seeded coin folds the root in place between triggers — two
          // heads in a row exercise fold-of-fold — and convergence must
          // hold regardless (the fold is pure reorganization)
          if (rnd.nextBoolean())
            IncrementalKnn.tailFold(spark, root, keep = 1,
              tag = Some(s"prop_fold_${seedVal}_$seq"))
        }
      } finally q.stop()

      // served == one-shot rebuild over the model's net document set
      val net = model.toSeq.map { case (id, t) => (id, t) }
        .toDF("doc_id", "text")
      val rebuilt = Ann.knnGraph(
          TfIdfGraphIndex.embedDocsDense(spark, Sf0001, net), centroids, 3, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      val served = IncrementalKnn.edges(spark, root, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      assert(served == rebuilt && rebuilt.nonEmpty,
        s"seed $seedVal diverged: served ${served.size} vs rebuilt ${rebuilt.size}")
    }
  }

  test("textGraphCdcIngest with tail-fold compaction: convergence holds while the graph root folds IN PLACE (repairs + horizons through folds)") {
    // the graph member of the CDC tail-fold story: the loop's repair +
    // delete + upsert machinery keeps running while the root folds in
    // place every other trigger — served must STILL equal the one-shot
    // rebuild over the net documents (the fold stores logical horizons,
    // so repair coverage and tombstone cuts read identically).
    implicit val sqlCtx = spark.sqlContext
    import graft.index.{IncrementalKnn, SegmentStore, TfIdfGraphIndex}
    import graft.search.Ann
    import spark.implicits._
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 60)
    val words = Seq("merge", "stream", "window", "data", "filter", "join",
      "aggregate", "scan", "vector", "index", "probe", "walk")
    val rnd = new scala.util.Random(23L)
    def text() = Seq.fill(4)(words(rnd.nextInt(words.length))).mkString(" ")
    val model = scala.collection.mutable.LinkedHashMap[Long, String]()
    corpus.collect().foreach(r => model(r.getLong(0)) = r.getString(1))
    var nextNew = 7000L

    val root = java.nio.file.Files
      .createTempDirectory("graft-cdc-tf").toString + "/g"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-cdc-tf-ck").toString
    val denseCorpus = TfIdfGraphIndex.embedDocsDense(spark, Sf0001, corpus)
    val centroids = denseCorpus.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    IncrementalKnn.init(denseCorpus, centroids, root, 3, 5)

    val input = MemoryStream[(String, Long, String, Long)]
    val q = DeltaStream.textGraphCdcIngest(
      input.toDF().toDF("op", "doc_id", "text", "seq"),
      Sf0001, root, ckpt, 3, 5, maxSegments = 2, seqCol = Some("seq"),
      tailFoldCompaction = true)
    try {
      var seq = 0L
      for (_ <- 0 until 3) {
        val ops = (0 until 8).map { _ =>
          seq += 1
          val live = model.keys.toIndexedSeq
          rnd.nextInt(4) match {
            case 0 =>
              val id = nextNew; nextNew += 1
              val t = text(); model(id) = t; ("I", id, t, seq)
            case 1 if live.nonEmpty =>
              val id = live(rnd.nextInt(live.size))
              model.remove(id); ("D", id, "", seq)
            case _ if live.nonEmpty =>
              val id = live(rnd.nextInt(live.size))
              val t = text(); model(id) = t; ("U", id, t, seq)
            case _ =>
              val id = nextNew; nextNew += 1
              val t = text(); model(id) = t; ("I", id, t, seq)
          }
        }
        input.addData(ops)
        q.processAllAvailable()
      }
    } finally q.stop()

    // the root folded in place: manifest committed, pointer never moved,
    // fan-in bounded by the trigger
    assert(!new java.io.File(s"$root.current").exists())
    assert(SegmentStore.currentManifest(s"$root/commit").nonEmpty)
    assert(IncrementalKnn.fanIn(root) <= 3,
      s"fan-in ${IncrementalKnn.fanIn(root)} not bounded")

    val net = model.toSeq.map { case (id, t) => (id, t) }
      .toDF("doc_id", "text")
    val rebuilt = Ann.knnGraph(
        TfIdfGraphIndex.embedDocsDense(spark, Sf0001, net), centroids, 3, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val served = IncrementalKnn.edges(spark, root, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(served == rebuilt && rebuilt.nonEmpty,
      s"tail-fold text-graph CDC diverged: served ${served.size} vs rebuilt ${rebuilt.size}")
  }

  test("indexCdcIngest convergence property: random interleaved I/U/D changelog, then full fold == fresh BM25 build over the net document set") {
    // the BM25 member of the family sweep: pre-fold stats are stale by
    // design (Lucene deleted-doc semantics), so the family's convergence
    // statement is full-fold(root) == init(net docs) — the
    // same contract the example-based upsert test pins, swept over a
    // seeded random changelog with multi-op keys inside triggers.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalBm25
    import spark.implicits._
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 60)
    val words = Seq("merge", "stream", "window", "data", "filter", "join",
      "aggregate", "scan", "vector", "index", "probe", "walk")
    for (seedVal <- Seq(7L, 23L)) {
      val rnd = new scala.util.Random(seedVal)
      def text() = Seq.fill(4)(words(rnd.nextInt(words.length))).mkString(" ")
      val model = scala.collection.mutable.LinkedHashMap[Long, String]()
      corpus.collect().foreach(r => model(r.getLong(0)) = r.getString(1))
      var nextNew = 3000L + seedVal * 100

      val root = java.nio.file.Files
        .createTempDirectory(s"graft-bmprop$seedVal").toString + "/i"
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-bmprop-ck$seedVal").toString
      IncrementalBm25.init(corpus, "doc_id", "text", root, numFiles = 1)

      val input = MemoryStream[(String, Long, String, Long)]
      val q = DeltaStream.indexCdcIngest(
        input.toDF().toDF("op", "doc_id", "text", "seq"),
        root, ckpt, seqCol = Some("seq"))
      try {
        var seq = 0L
        for (_ <- 0 until 3) {
          val ops = (0 until 8).map { _ =>
            seq += 1
            val live = model.keys.toIndexedSeq
            rnd.nextInt(4) match {
              case 0 =>
                val id = nextNew; nextNew += 1
                val t = text(); model(id) = t; ("I", id, t, seq)
              case 1 if live.nonEmpty =>
                val id = live(rnd.nextInt(live.size))
                model.remove(id); ("D", id, "", seq)
              case _ if live.nonEmpty =>
                val id = live(rnd.nextInt(live.size))
                val t = text(); model(id) = t; ("U", id, t, seq)
              case _ =>
                val id = nextNew; nextNew += 1
                val t = text(); model(id) = t; ("I", id, t, seq)
            }
          }
          input.addData(ops)
          q.processAllAvailable()
          // fold in the random op alphabet (r12 VERDICT #5) — partial
          // folds preserve the family's stale-stats interim by contract,
          // so the full-fold==fresh convergence statement is unchanged
          if (rnd.nextBoolean())
            IncrementalBm25.tailFold(spark, root, "doc_id", keep = 1,
              tag = Some(s"prop_fold_${seedVal}_$seq"))
        }
      } finally q.stop()

      IncrementalBm25.tailFold(spark, root, "doc_id", keep = 0)
      val fresh = java.nio.file.Files
        .createTempDirectory(s"graft-bmprop-fr$seedVal").toString + "/i"
      IncrementalBm25.init(model.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", fresh, numFiles = 1)
      def hits(r: String, terms: Seq[String]) = IncrementalBm25
        .topK(spark, r, "doc_id", terms, 500)
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      for (terms <- Seq(Seq("data", "query"), Seq("merge", "walk"),
          Seq("stream"))) {
        val (c, f) = (hits(root, terms), hits(fresh, terms))
        assert(c == f, s"seed $seedVal terms $terms: ${c.size} vs ${f.size}")
      }
      assert(hits(root, Seq("data", "query")).nonEmpty)
    }
  }

  test("indexCdcIngest driftFoldShare: a delete-heavy changelog triggers the stats catch-up fold without an operator call") {
    // r13 left the BM25 stale-stats drift as a GAUGE
    // (IncrementalBm25.stats → stats_drift_docs on the admin route);
    // this wires it to an ACTION: with driftFoldShare set, the CDC
    // loop's own fold trigger escalates to the full merge moment when
    // the drift share crosses it — scoring statistics catch up in-loop,
    // no operator fold call.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalBm25
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 200)
    val root = java.nio.file.Files
      .createTempDirectory("graft-drift-cdc").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-drift-ck").toString
    IncrementalBm25.init(corpus, "doc_id", "text", root, numFiles = 1)
    assert(IncrementalBm25.stats(spark, root, "doc_id")("stats_drift_docs") == 0)

    val delIds = corpus.select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 5 != 0).take(80) // 40% of 200 docs: share 0.4 > 0.25
    val input = MemoryStream[(String, Long, String)]
    val q = DeltaStream.indexCdcIngest(
      input.toDF().toDF("op", "doc_id", "text"), root, ckpt,
      maxSegments = 64, // fan-in alone would never trigger a fold here
      driftFoldShare = 0.25)
    try {
      input.addData(delIds.toSeq.map(id => ("D", id, "")))
      q.processAllAvailable()
    } finally q.stop()

    val after = IncrementalBm25.stats(spark, root, "doc_id")
    assert(after("stats_drift_docs") == 0,
      s"drift fold must zero the drift, got $after")
    assert(after("stats_n_docs") == 120, s"stats must count survivors: $after")

    // the merge moment ran: scoring equals a fresh build over survivors
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-drift-fresh").toString + "/i"
    val survivors = corpus.where(!col("doc_id").isin(delIds.toSeq: _*))
    graft.index.Bm25Index.build(survivors, "doc_id", "text", fresh)
    val terms = Seq("spark", "join", "filter")
    val folded = IncrementalBm25.topK(spark, root, "doc_id", terms, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = graft.index.Bm25Index.topK(spark, fresh, "doc_id", terms, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(folded == rebuilt && rebuilt.nonEmpty)
  }

  test("indexCdcIngest with tail-fold compaction: full in-root fold == fresh BM25 build (stats catch up without a pointer swap)") {
    // the BM25 member of the CDC tail-fold story: partial folds run
    // inside the loop (stats stale by contract), and the closing
    // statement is the family's merge moment spelled in-root — a FULL
    // tail-fold (keep = 0) recomputes stats from survivors and must
    // equal a fresh build over the net documents, with the root path
    // never having moved.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.{IncrementalBm25, SegmentStore}
    import spark.implicits._
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
      .where(col("doc_id") < 60)
    val words = Seq("merge", "stream", "window", "data", "filter", "join",
      "aggregate", "scan", "vector", "index", "probe", "walk")
    val rnd = new scala.util.Random(37L)
    def text() = Seq.fill(4)(words(rnd.nextInt(words.length))).mkString(" ")
    val model = scala.collection.mutable.LinkedHashMap[Long, String]()
    corpus.collect().foreach(r => model(r.getLong(0)) = r.getString(1))
    var nextNew = 8000L

    val root = java.nio.file.Files
      .createTempDirectory("graft-bmtf-cdc").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-bmtf-cdc-ck").toString
    IncrementalBm25.init(corpus, "doc_id", "text", root, numFiles = 1)

    val input = MemoryStream[(String, Long, String, Long)]
    val q = DeltaStream.indexCdcIngest(
      input.toDF().toDF("op", "doc_id", "text", "seq"),
      root, ckpt, maxSegments = 2, seqCol = Some("seq"))
    try {
      var seq = 0L
      for (_ <- 0 until 3) {
        val ops = (0 until 8).map { _ =>
          seq += 1
          val live = model.keys.toIndexedSeq
          rnd.nextInt(4) match {
            case 0 =>
              val id = nextNew; nextNew += 1
              val t = text(); model(id) = t; ("I", id, t, seq)
            case 1 if live.nonEmpty =>
              val id = live(rnd.nextInt(live.size))
              model.remove(id); ("D", id, "", seq)
            case _ if live.nonEmpty =>
              val id = live(rnd.nextInt(live.size))
              val t = text(); model(id) = t; ("U", id, t, seq)
            case _ =>
              val id = nextNew; nextNew += 1
              val t = text(); model(id) = t; ("I", id, t, seq)
          }
        }
        input.addData(ops)
        q.processAllAvailable()
      }
    } finally q.stop()

    // folded in place throughout: pointer never set, fan-in bounded
    assert(!new java.io.File(s"$root.current").exists())
    assert(SegmentStore.currentManifest(s"$root/stats").nonEmpty)
    assert(IncrementalBm25.fanIn(root) <= 3,
      s"fan-in ${IncrementalBm25.fanIn(root)} not bounded")

    // the merge moment, in-root: full fold == fresh build over net docs
    IncrementalBm25.tailFold(spark, root, "doc_id", keep = 0,
      tag = Some("bmtf_full"))
    val fresh = java.nio.file.Files
      .createTempDirectory("graft-bmtf-fresh").toString + "/i"
    IncrementalBm25.init(model.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", fresh, numFiles = 1)
    def hits(r: String, terms: Seq[String]) = IncrementalBm25
      .topK(spark, r, "doc_id", terms, 500)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    for (terms <- Seq(Seq("data", "query"), Seq("merge", "walk"),
        Seq("stream"))) {
      val (c, f) = (hits(root, terms), hits(fresh, terms))
      assert(c == f, s"terms $terms: ${c.size} vs ${f.size}")
    }
    assert(hits(root, Seq("data", "query")).nonEmpty)
  }

  test("ivfCdcIngest convergence property: random interleaved I/U/D vector changelog == brute IVF over the net vector set") {
    // the IVF member: reads are exact-rebuild-semantics immediately (no
    // compaction needed for the comparison) — served topK must equal
    // brute IVF over whatever vectors survive the changelog, every seed.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalIvf
    import graft.search.Ann
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .where(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    for (seedVal <- Seq(5L, 31L)) {
      val rnd = new scala.util.Random(seedVal)
      def vec() = Seq.fill(64)(rnd.nextFloat())
      val model = scala.collection.mutable.LinkedHashMap[Long, Seq[Float]]()
      emb.collect().foreach(r => model(r.getLong(0)) = r.getSeq[Float](1))
      var nextNew = 5000L + seedVal * 100

      val root = java.nio.file.Files
        .createTempDirectory(s"graft-ivfprop$seedVal").toString + "/i"
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-ivfprop-ck$seedVal").toString
      IncrementalIvf.init(emb, centroids, root)

      val input = MemoryStream[(String, Long, Seq[Float], Long)]
      val q = DeltaStream.ivfCdcIngest(
        input.toDF().toDF("op", "vec_id", "embedding", "seq")
          .select(col("op"), col("vec_id"),
            col("embedding").cast("array<float>").as("embedding"), col("seq")),
        root, ckpt, seqCol = Some("seq"))
      try {
        var seq = 0L
        for (_ <- 0 until 3) {
          val ops = (0 until 8).map { _ =>
            seq += 1
            val live = model.keys.toIndexedSeq
            rnd.nextInt(4) match {
              case 0 =>
                val id = nextNew; nextNew += 1
                val v = vec(); model(id) = v; ("I", id, v, seq)
              case 1 if live.nonEmpty =>
                val id = live(rnd.nextInt(live.size))
                model.remove(id); ("D", id, Seq.empty[Float], seq)
              case _ if live.nonEmpty =>
                val id = live(rnd.nextInt(live.size))
                val v = vec(); model(id) = v; ("U", id, v, seq)
              case _ =>
                val id = nextNew; nextNew += 1
                val v = vec(); model(id) = v; ("I", id, v, seq)
            }
          }
          input.addData(ops)
          q.processAllAvailable()
          // fold in the random op alphabet (r12 VERDICT #5): exact
          // rebuild semantics must survive random fold interleavings
          if (rnd.nextBoolean())
            IncrementalIvf.tailFold(spark, root, keep = 1,
              tag = Some(s"prop_fold_${seedVal}_$seq"))
        }
      } finally q.stop()

      val qv = emb.where(col("vec_id") === 0L)
        .select(col("embedding").as("qvec"))
      def hits(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      val current = model.toSeq.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      val served = hits(IncrementalIvf.topK(spark, root, qv, 3, 10))
      val rebuilt = hits(Ann.ivfTopKAssigned(
        Ann.ivfAssign(current, centroids), centroids, qv, 3, 10))
      assert(served == rebuilt && served.nonEmpty,
        s"seed $seedVal diverged: $served vs $rebuilt")
    }
  }

  test("ivfCdcIngest with tail-fold compaction: convergence holds while the root folds IN PLACE (bounded fan-in, no pointer swap)") {
    // same convergence statement as the property test above, but the
    // loop compacts via the manifest tail-fold: the root path never
    // moves, read fan-in stays bounded, and served results still equal
    // brute IVF over the net vector set — the steady-state 100 TB mode.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.{IncrementalIvf, SegmentStore}
    import graft.search.Ann
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .where(col("vec_id") < 120)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val rnd = new scala.util.Random(17L)
    def vec() = Seq.fill(64)(rnd.nextFloat())
    val model = scala.collection.mutable.LinkedHashMap[Long, Seq[Float]]()
    emb.collect().foreach(r => model(r.getLong(0)) = r.getSeq[Float](1))
    var nextNew = 9000L

    val root = java.nio.file.Files
      .createTempDirectory("graft-ivftf-cdc").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ivftf-cdc-ck").toString
    IncrementalIvf.init(emb, centroids, root)

    val input = MemoryStream[(String, Long, Seq[Float], Long)]
    val q = DeltaStream.ivfCdcIngest(
      input.toDF().toDF("op", "vec_id", "embedding", "seq")
        .select(col("op"), col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"), col("seq")),
      root, ckpt, maxSegments = 2, seqCol = Some("seq"))
    try {
      var seq = 0L
      for (_ <- 0 until 4) {
        val ops = (0 until 8).map { _ =>
          seq += 1
          val live = model.keys.toIndexedSeq
          rnd.nextInt(4) match {
            case 0 =>
              val id = nextNew; nextNew += 1
              val v = vec(); model(id) = v; ("I", id, v, seq)
            case 1 if live.nonEmpty =>
              val id = live(rnd.nextInt(live.size))
              model.remove(id); ("D", id, Seq.empty[Float], seq)
            case _ if live.nonEmpty =>
              val id = live(rnd.nextInt(live.size))
              val v = vec(); model(id) = v; ("U", id, v, seq)
            case _ =>
              val id = nextNew; nextNew += 1
              val v = vec(); model(id) = v; ("I", id, v, seq)
          }
        }
        input.addData(ops)
        q.processAllAvailable()
      }
    } finally q.stop()

    // the root folded in place: a manifest is committed, the pointer
    // never moved, and read fan-in is bounded by the trigger
    assert(!new java.io.File(s"$root.current").exists())
    assert(SegmentStore.currentManifest(s"$root/commit").nonEmpty)
    assert(IncrementalIvf.fanIn(root) <= 3,
      s"fan-in ${IncrementalIvf.fanIn(root)} not bounded")

    val qv = emb.where(col("vec_id") === 0L)
      .select(col("embedding").as("qvec"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val current = model.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val served = hits(IncrementalIvf.topK(spark, root, qv, 3, 10))
    val rebuilt = hits(Ann.ivfTopKAssigned(
      Ann.ivfAssign(current, centroids), centroids, qv, 3, 10))
    assert(served == rebuilt && served.nonEmpty,
      s"tail-fold CDC diverged: $served vs $rebuilt")
  }

  test("ivfCdcIngest: vector changelog — deleted vectors leave topK same trigger (exact rebuild semantics)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalIvf
    import graft.search.Ann
    import spark.implicits._
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivfcdc").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ivfcdc-ck").toString
    IncrementalIvf.init(emb.where(col("vec_id") % 2 === 0), centroids, root)
    val rest = emb.where(col("vec_id") % 2 === 1)
      .collect().map(r => ("I", r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(String, Long, Seq[Float])]
    val q = DeltaStream.ivfCdcIngest(
      input.toDF().toDF("op", "vec_id", "embedding")
        .select(col("op"), col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
      root, ckpt)
    val v10new = emb.where(col("vec_id") === 12L)
      .collect().head.getSeq[Float](1)
    try {
      input.addData(rest.take(100).toSeq); q.processAllAvailable()
      input.addData(Seq(("D", 6L, Seq.empty[Float]),
        ("D", 8L, Seq.empty[Float])) ++ rest.drop(100).toSeq: _*)
      q.processAllAvailable()
      // trigger 3: in-place UPDATE of id 10 to id 12's embedding
      input.addData(("U", 10L, v10new))
      q.processAllAvailable()
    } finally q.stop()

    val qv = emb.where(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val served = hits(IncrementalIvf.topK(spark, root, qv, 3, 10))
    // IVF exclusion IS rebuild semantics: == brute IVF over the CURRENT
    // rows (deletes out, id 10 carrying its new embedding)
    val current = emb.select(col("vec_id"), col("embedding"))
      .where(!col("vec_id").isin(6L, 8L, 10L))
      .unionByName(Seq((10L, v10new)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")))
    val rebuilt = hits(Ann.ivfTopKAssigned(
      Ann.ivfAssign(current, centroids), centroids, qv, 3, 10))
    assert(served == rebuilt && !served.exists(h => h._1 == 6L || h._1 == 8L))
  }

  test("ivfCdcIngest: a U-only batch on an uninitialized root fails the query instead of being dropped (empty-root rule)") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivfcdc-empty").toString + "/i"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ivfcdc-empty-ck").toString
    val input = MemoryStream[(String, Long, Seq[Float])]
    val q = DeltaStream.ivfCdcIngest(
      input.toDF().toDF("op", "vec_id", "embedding")
        .select(col("op"), col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
      root, ckpt)
    try {
      input.addData(("U", 1L, Seq(0.5f, 0.5f)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("not initialized")), msgs.mkString(" | "))
    } finally q.stop()
    assert(graft.index.IncrementalIvf.version(root) == 0)
  }

  test("vectorPercolateServe: per-batch reverse-ANN firings union to the batch run; thresholds respected") {
    implicit val sqlCtx = spark.sqlContext
    import graft.search.Percolate
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val alerts = emb.where(col("vec_id").isin(0L, 1L))
      .select(col("vec_id").as("alert_id"), col("embedding").as("avec"))
      .withColumn("threshold",
        when(col("alert_id") === 0L, lit(0.3)).otherwise(lit(0.35)))
    val docs = emb.limit(120).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val out = java.nio.file.Files.createTempDirectory("vperc-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vperc-ck").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = DeltaStream.vectorPercolateServe(
      input.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      alerts, out, ckpt)
    try {
      docs.grouped(50).foreach { g => input.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(Percolate.vectorMatches(
      spark.createDataFrame(docs.toSeq).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      alerts))
    assert(streamed == batch && batch.nonEmpty, s"n=${batch.size}")
    // each alert fires on itself at 1.0, and never below its threshold
    assert(batch.contains((0L, 0L, 1.0)) && batch.contains((1L, 1L, 1.0)))
    assert(batch.filter(_._1 == 0L).forall(_._3 >= 0.3) &&
           batch.filter(_._1 == 1L).forall(_._3 >= 0.35))
  }

  test("hybridPercolateServe: per-batch term+vector firings union to the batch run, broadcast AND inverted compositions") {
    implicit val sqlCtx = spark.sqlContext
    import graft.search.Percolate
    import spark.implicits._
    val docsT = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val alerts = Seq((1L, Seq("spark", "join"), 0L, 0.2),
        (2L, Seq("scan"), 1L, 0.2))
      .toDF("alert_id", "terms", "avec_id", "threshold")
      .join(emb.select(col("vec_id").as("avec_id"),
        col("embedding").as("avec")), Seq("avec_id"))
      .select(col("alert_id"), col("terms"), col("avec"), col("threshold"))
    // the stream carries (doc_id, text, embedding) — the point-collection
    // row shape (text + its vector arrive together)
    val rows0 = docsT.join(emb.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .limit(200).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2)))
    def run(inverted: Boolean): Set[(Long, Long, Double)] = {
      val out = java.nio.file.Files.createTempDirectory("hperc-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("hperc-ck").toString
      val input = MemoryStream[(Long, String, Seq[Float])]
      val q = DeltaStream.hybridPercolateServe(
        input.toDF().toDF("doc_id", "text", "embedding")
          .select(col("doc_id"), col("text"),
            col("embedding").cast("array<float>").as("embedding")),
        alerts, out, ckpt, inverted = inverted)
      try {
        rows0.grouped(80).foreach { g =>
          input.addData(g.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val streamedDocs = spark.createDataFrame(rows0.toSeq)
      .toDF("doc_id", "text", "embedding")
    val batch = Percolate.hybridMatches(
        streamedDocs.select(col("doc_id"), col("text")),
        streamedDocs.select(col("doc_id").as("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
        alerts, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(inverted = false) == batch && batch.nonEmpty, s"n=${batch.size}")
    assert(run(inverted = true) == batch) // same fired set, no alert broadcast
  }

  test("percolate rejects an alert with empty terms loudly") {
    import graft.search.Percolate
    // explode() would silently drop the empty alert — it would never fire
    // and never error; the engine fails fast instead
    val alerts = Seq((1, Seq("spark")), (2, Seq.empty[String]))
      .toDF("alert_id", "terms")
    val docs = Seq((1L, "spark join")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Percolate.matches(docs, alerts, "doc_id", "text").collect()
    }
    assert(e.getMessage.contains("empty terms") ||
      Option(e.getCause).exists(_.getMessage.contains("empty terms")),
      e.getMessage)
  }

  test("percolate dfLookup: fresh artifact == in-plan df; stale artifact still fires via fallback") {
    import graft.search.Percolate
    import graft.functions.TextOps
    val docs = Seq(
      (1L, "spark join fast"), (2L, "join only here"),
      (3L, "scan the table"), (4L, "spark scan join"),
      (5L, "rare join appears once")).toDF("doc_id", "text")
    val alerts = Seq(
      (1, Seq("spark", "join")), (2, Seq("scan")),
      (3, Seq("rare", "join"))).toDF("alert_id", "terms")
    def fired(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val inPlan = fired(
      Percolate.matchesInverted(docs, alerts, "doc_id", "text"))
    assert(inPlan == Set((1, 1L), (1, 4L), (2, 3L), (2, 4L), (3, 5L)), inPlan)

    // fresh lookup — the termstats-artifact shape (term, df) covering
    // every alert term: fired set must be identical to the in-plan form
    val freshLk = docs
      .select(explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    assert(fired(Percolate.matchesInverted(
      docs, alerts, "doc_id", "text", Some(freshLk))) == inPlan)

    // stale lookup — 'spark'/'rare'/'scan' missing from the artifact
    // (built before an append) and 'join' carrying a wrong df: missing
    // terms fall back to live in-plan df, and matching itself never
    // consults the lookup, so the fired set is STILL identical
    val staleLk = Seq(("join", 9999L), ("unrelated", 3L)).toDF("term", "df")
    assert(fired(Percolate.matchesInverted(
      docs, alerts, "doc_id", "text", Some(staleLk))) == inPlan)

    // degenerate artifact covering nothing — pure-fallback path
    val emptyLk = Seq.empty[(String, Long)].toDF("term", "df")
    assert(fired(Percolate.matchesInverted(
      docs, alerts, "doc_id", "text", Some(emptyLk))) == inPlan)
  }

  test("stream-stream interval join matches clicks to impressions within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val impIn = MemoryStream[(Long, Timestamp)]
    val clkIn = MemoryStream[(Long, Timestamp, Double)]
    val imps = impIn.toDF().toDF("i_user", "i_ts")
    val clks = clkIn.toDF().toDF("c_user", "c_ts", "c_value")

    val joined = DeltaStream.intervalJoin(imps, clks,
      keyCols = ("i_user", "c_user"), tsCols = ("i_ts", "c_ts"),
      watermark = "10 minutes", horizon = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      impIn.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, Timestamp.valueOf("2024-01-01 00:00:00")))
      clkIn.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:03:00"), 1.5), // in horizon
        (2L, Timestamp.valueOf("2024-01-01 00:09:00"), 9.9), // past 5m: no match
        (3L, Timestamp.valueOf("2024-01-01 00:01:00"), 7.0)) // no impression
      q.processAllAvailable()
      val out = spark.table("attrib")
        .select("i_user", "c_value")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(out == Set((1L, 1.5)))
    } finally q.stop()
  }

  test("streaming curation verdicts are bit-identical to the batch run under a frozen LM") {
    import scala.collection.mutable
    implicit val sqlCtx = spark.sqlContext

    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "a model of data and text is built from tokens and the corpus counts"),
      (3L, "spam spam spam spam spam spam")).toDF("doc_id", "text")
    // the frozen artifact: train once, reuse across every micro-batch
    val lp = graft.functions.CorpusStats.unigramLogProbs(train).localCheckpoint()

    val scored = mutable.Map[Long, org.apache.spark.sql.Row]()
    val input = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-curate").toString
    val q = DeltaStream.curationIngest(
      input.toDF().toDF("doc_id", "text"), lp, ckpt) { (verdicts, _) =>
      verdicts.collect().foreach(r => scored(r.getAs[Long]("doc_id")) = r)
    }
    // doc 13 repeats one long token but keeps heuristic quality high, so
    // the repetition rule (not low_quality) is what rejects it
    val repetitive =
      "database database database engine pipeline throughput the scheduler"
    try {
      input.addData((10L, "the quick brown fox jumps over the lazy dog")); q.processAllAvailable()
      input.addData((11L, "spam spam spam spam"), (12L, "unseen words only"),
        (13L, repetitive)); q.processAllAvailable()
    } finally q.stop()

    // doc 12 is fully out-of-vocabulary -> no surprisal -> dropped by the LM join
    assert(scored.keySet == Set(10L, 11L, 13L), scored.keySet)
    assert(scored(11L).getAs[String]("reason") == "low_quality")
    assert(scored(13L).getAs[String]("reason") == "repetitive")

    // the streamed verdicts equal a batch re-run over the same docs + LM
    val batch = graft.functions.CorpusStats.curationVerdictWithLm(
      Seq((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "spam spam spam spam"), (13L, repetitive))
        .toDF("doc_id", "text"), lp)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (id <- Seq(10L, 11L, 13L))
      assert(scored(id).toSeq == batch(id).toSeq, s"doc $id diverged")
  }

  test("lshDedupIngest: near-dups drop across and within batches; state survives restart") {
    import scala.collection.mutable
    implicit val sqlCtx = spark.sqlContext
    val kept = mutable.Map[Long, String]()
    val store = java.nio.file.Files.createTempDirectory("graft-lsh-store").toString + "/bands"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lsh-ck").toString
    val base = "the quick brown fox jumps over the lazy dog tonight"
    val nearDup = "the quick brown fox jumps over the lazy dog today" // shares most shingles
    val fresh = "completely different content about spark catalyst optimizer internals"
    val input = MemoryStream[(Long, String)]
    val q = DeltaStream.lshDedupIngest(
      input.toDF().toDF("doc_id", "text"), store, ckpt) { (batch, _) =>
      batch.collect().foreach(r => kept(r.getAs[Long]("doc_id")) = r.getAs[String]("text"))
    }
    try {
      // batch 1: base + an identical twin -> intra-batch keeper is min id
      input.addData((1L, base), (2L, base)); q.processAllAvailable()
      // batch 2: near-dup of doc 1 (store hit) + genuinely new content
      input.addData((3L, nearDup), (4L, fresh)); q.processAllAvailable()
    } finally q.stop()
    assert(kept.keySet == Set(1L, 4L), kept.keySet)

    // restart against the same band store: the gate state is the parquet
    // store, not JVM memory — a re-sent near-dup still drops
    val kept2 = mutable.Map[Long, String]()
    val input2 = MemoryStream[(Long, String)]
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-lsh-ck2").toString
    val q2 = DeltaStream.lshDedupIngest(
      input2.toDF().toDF("doc_id", "text"), store, ckpt2) { (batch, _) =>
      batch.collect().foreach(r => kept2(r.getAs[Long]("doc_id")) = r.getAs[String]("text"))
    }
    try { input2.addData((5L, base), (6L, "another entirely novel document body")); q2.processAllAvailable() }
    finally q2.stop()
    assert(kept2.keySet == Set(6L), kept2.keySet)
  }

  test("indexIngest: streamed segments serve hash-identical bm25 to a full rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val root = java.nio.file.Files.createTempDirectory("graft-inc-ing").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-inc-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = DeltaStream.indexIngest(input.toDF().toDF("doc_id", "text"), root, ckpt)
    try {
      docs.grouped(200).foreach { g => input.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(graft.index.IncrementalBm25.version(root) >= 2) // really grew in steps

    val full = java.nio.file.Files.createTempDirectory("graft-inc-full").toString
    graft.index.Bm25Index.build(
      graft.tables.Tables.documents(spark, Sf0001), "doc_id", "text", full)
    val terms = Seq("spark", "join", "filter")
    val streamed = graft.index.IncrementalBm25.topK(spark, root, "doc_id", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = graft.index.Bm25Index.topK(spark, full, "doc_id", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == rebuilt && rebuilt.nonEmpty)

    // at-least-once redelivery: the committed tag makes a replayed batch
    // a no-op instead of a duplicate append
    val vBefore = graft.index.IncrementalBm25.version(root)
    val lastTag = s"batch_${vBefore - 1}"
    assert(graft.index.IncrementalBm25.committedHasTag(root, lastTag))

    // the full fold leaves one segment, scores unchanged
    graft.index.IncrementalBm25.tailFold(spark, root, "doc_id", keep = 0)
    assert(graft.index.IncrementalBm25.fanIn(root) == 1)
    val afterFold = graft.index.IncrementalBm25
      .topK(spark, root, "doc_id", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterFold == rebuilt)
  }

  test("indexIngest with maxSegments: the root folds in place, fan-in stays bounded, serves identically") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.tables.Tables.documents(spark, Sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val root = java.nio.file.Files.createTempDirectory("graft-lc-ing").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lc-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = DeltaStream.indexIngest(input.toDF().toDF("doc_id", "text"),
      root, ckpt, maxSegments = 2)
    try {
      docs.grouped(100).foreach { g => input.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()

    // ≥5 batches over maxSegments=2 ⇒ the fold fired: the root path is
    // the only tree (no sibling root, no `.current` pointer) and its
    // fan-in is bounded
    assert(new java.io.File(root).getParentFile.list().toSet == Set("idx"))
    assert(!new java.io.File(s"$root.current").exists())
    assert(graft.index.IncrementalBm25.fanIn(root) <= 2)

    // the maintained index serves hash-identical bm25 to a full rebuild
    val full = java.nio.file.Files.createTempDirectory("graft-lc-full").toString
    graft.index.Bm25Index.build(
      graft.tables.Tables.documents(spark, Sf0001), "doc_id", "text", full)
    val terms = Seq("spark", "join", "filter")
    val streamed = graft.index.IncrementalBm25
      .topK(spark, root, "doc_id", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = graft.index.Bm25Index.topK(spark, full, "doc_id", terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == rebuilt && rebuilt.nonEmpty)

    // every batch's idempotence tag stays on the one root: redelivery
    // of the one uncommitted batch is a no-op, not a dup
    val nBatches = (docs.length + 99) / 100
    assert((0 until nBatches).forall(b =>
      graft.index.IncrementalBm25.committedHasTag(root, s"batch_$b")))
  }

  test("indexIngest defers its trigger while an admin snapshot quiesces the root: LeaseHeldException retried in-loop, stream survives") {
    // r13 ADVICE: a snapshot taken during live CDC ingest used to fail
    // the WHOLE streaming query (nothing caught the quiesce lease's
    // refusal). The maintenance loops now retry the trigger until the
    // quiesce ends — idempotence tags make whole-body re-runs no-ops.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.{IncrementalBm25, SegmentStore}
    val docs = graft.tables.Tables.documents(spark, Sf0001)
      .select("doc_id", "text").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val root = java.nio.file.Files.createTempDirectory("graft-defer").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-defer-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = DeltaStream.indexIngest(input.toDF().toDF("doc_id", "text"),
      root, ckpt)
    try {
      input.addData(docs.take(20).toSeq); q.processAllAvailable()
      assert(IncrementalBm25.version(root) == 1)
      // an admin snapshot quiesces the root mid-stream (exactly what
      // SegmentStore.snapshot does) for longer than one retry backoff
      val held = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        SegmentStore.withWriterLease(root, "admin-snapshot") {
          held.countDown(); Thread.sleep(1500)
        })
      holder.start(); held.await()
      input.addData(docs.drop(20).toSeq)
      q.processAllAvailable() // must not throw: trigger defers, then lands
      holder.join()
      assert(IncrementalBm25.version(root) == 2,
        "the deferred trigger must still commit its segment")
    } finally q.stop()
  }

  test("indexIngest survives a quiesce LONGER than the old fixed retry budget: exponential backoff carries the trigger past 5 s") {
    // r14 ADVICE: the fixed 20×250 ms ≈ 5 s retry budget only covered toy
    // snapshots — a real SegmentStore.snapshot walks and copies the whole
    // root under the lease, so any quiesce past ~5 s still failed the
    // streaming query, the exact failure the retry was built to remove.
    // The horizon is now 60 s (sys-prop tunable) with exponential
    // backoff; a 7 s hold lands on the ~6th attempt.
    implicit val sqlCtx = spark.sqlContext
    import graft.index.{IncrementalBm25, SegmentStore}
    val docs = graft.tables.Tables.documents(spark, Sf0001)
      .select("doc_id", "text").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val root = java.nio.file.Files
      .createTempDirectory("graft-defer7").toString + "/idx"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-defer7-ck").toString
    val input = MemoryStream[(Long, String)]
    val q = DeltaStream.indexIngest(input.toDF().toDF("doc_id", "text"),
      root, ckpt)
    try {
      input.addData(docs.take(20).toSeq); q.processAllAvailable()
      assert(IncrementalBm25.version(root) == 1)
      val held = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        SegmentStore.withWriterLease(root, "slow-admin-snapshot") {
          held.countDown(); Thread.sleep(7000)
        })
      holder.start(); held.await()
      input.addData(docs.drop(20).toSeq)
      q.processAllAvailable() // pre-r15: retries exhausted at ~5 s → query failed
      holder.join()
      assert(IncrementalBm25.version(root) == 2,
        "the trigger must defer past the old 5 s budget and still commit")
    } finally q.stop()
  }

  test("ivfIngest: streamed segments serve hash-identical ANN to a monolithic assignment") {
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalIvf
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

    // init freezes centroids + seg 0; the stream appends the rest
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-ing").toString + "/idx"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-ck").toString
    IncrementalIvf.init(emb.where(col("vec_id") % 4 === 0), centroids, root)
    val rest = emb.where(col("vec_id") % 4 =!= 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = DeltaStream.ivfIngest(
      input.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      root, ckpt)
    try {
      rest.grouped(20).foreach { g => input.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(IncrementalIvf.version(root) >= 3) // really grew in steps

    val qv = emb.where(col("vec_id") === 7L).select(col("embedding").as("qvec"))
    val streamed = IncrementalIvf.topK(spark, root, qv, nprobe = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = graft.search.Ann.ivfTopK(emb, centroids, qv, nprobe = 3, k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed == rebuilt && rebuilt.nonEmpty)

    // at-least-once redelivery: committed batch tags make replays no-ops
    val vNow = IncrementalIvf.version(root)
    assert((0 until vNow - 1).exists(b =>
      IncrementalIvf.committedHasTag(root, s"batch_$b")))
  }

  test("knnIngest: streamed graph segments merge hash-identical to a full rebuild") {
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalKnn
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

    val root = java.nio.file.Files.createTempDirectory("graft-knn-ing").toString + "/g"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-knn-ck").toString
    IncrementalKnn.init(emb.where(col("vec_id") % 4 === 0), centroids, root, 3, 5)
    val rest = emb.where(col("vec_id") % 4 =!= 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = DeltaStream.knnIngest(
      input.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      root, ckpt, 3, 5)
    try {
      rest.grouped(25).foreach { g => input.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(IncrementalKnn.version(root) >= 3) // really grew in steps

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val streamed = rows(IncrementalKnn.edges(spark, root, 5))
    val rebuilt = rows(graft.search.Ann.knnGraph(emb, centroids, 3, 5))
    assert(streamed == rebuilt && rebuilt.nonEmpty)

    // at-least-once redelivery: committed batch tags make replays no-ops
    val vNow = IncrementalKnn.version(root)
    assert((0 until vNow - 1).exists(b =>
      IncrementalKnn.committedHasTag(root, s"batch_$b")))
  }

  test("knnIngest with maxSegments: the graph root folds in place mid-stream, graph stays rebuild-exact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalKnn
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

    val root = java.nio.file.Files.createTempDirectory("graft-knn-lc").toString + "/g"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-knn-lck").toString
    IncrementalKnn.init(emb.where(col("vec_id") % 4 === 0), centroids, root, 3, 5)
    val rest = emb.where(col("vec_id") % 4 =!= 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = DeltaStream.knnIngest(
      input.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      root, ckpt, 3, 5, maxSegments = 2)
    try {
      rest.grouped(60).foreach { g => input.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()

    // the fold fired in place: no sibling root, no `.current` pointer,
    // fan-in bounded
    assert(new java.io.File(root).getParentFile.list().toSet == Set("g"))
    assert(!new java.io.File(s"$root.current").exists())
    assert(IncrementalKnn.fanIn(root) <= 2)

    // the maintained graph is hash-exact to a whole-corpus rebuild
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val maintained = rows(IncrementalKnn.edges(spark, root, 5))
    val rebuilt = rows(graft.search.Ann.knnGraph(emb, centroids, 3, 5))
    assert(maintained == rebuilt && rebuilt.nonEmpty)
  }

  test("textGraphIngest: streamed docs embed into the FROZEN tfidf space; grown == rebuilt; new doc is graph-searchable one trigger later") {
    implicit val sqlCtx = spark.sqlContext
    import graft.index.{IncrementalKnn, TfIdfGraphIndex}
    import graft.search.Ann
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
    // seed: the serving graph over the build corpus (frozen idf = Sf0001's)
    val root = java.nio.file.Files
      .createTempDirectory("graft-txtg").toString + "/g"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-txtg-ck").toString
    val denseCorpus = TfIdfGraphIndex.embedDocsDense(spark, Sf0001, corpus)
    val centroids = denseCorpus.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    IncrementalKnn.init(denseCorpus, centroids, root, 3, 5)

    // stream NEW documents (ids beyond the corpus; 1600 % 16 == 0 makes
    // the first one a coarse-layer member by construction)
    val newDocs = Seq(
      (1600L, "merge stream window data"),
      (1601L, "filter join aggregate scan"),
      (1618L, "vector index probe walk"))
    val input = MemoryStream[(Long, String)]
    val q = DeltaStream.textGraphIngest(
      input.toDF().toDF("doc_id", "text"), Sf0001, root, ckpt, 3, 5)
    try {
      newDocs.grouped(2).foreach { g =>
        input.addData(g.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    assert(IncrementalKnn.version(root) >= 3) // init + 2 micro-batches

    // grown == whole-corpus rebuild over frozen-idf embeddings of ALL docs
    val allDocs = corpus.unionByName(newDocs.toDF("doc_id", "text"))
    val denseAll = TfIdfGraphIndex.embedDocsDense(spark, Sf0001, allDocs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val grown = rows(IncrementalKnn.edges(spark, root, 5))
    val rebuilt = rows(Ann.knnGraph(denseAll, centroids, 3, 5))
    assert(grown == rebuilt && rebuilt.nonEmpty)

    // per-segment serving artifacts: vecs cover every doc, coarse is
    // exactly the mod-16 subset (incl. the streamed 1600)
    assert(IncrementalKnn.vectorsAll(spark, root).count() == denseAll.count())
    val coarseIds = IncrementalKnn.coarseAll(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expectCoarse = denseAll.where(pmod(col("vec_id"), lit(16)) === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(coarseIds == expectCoarse && coarseIds.contains(1600L))

    // FRESHNESS: a query with the streamed doc's own text finds it top-1
    // (it embeds to the same unit vector -> score 1.0, and its coarse
    // membership guarantees it is an entry point)
    val qv = TfIdfGraphIndex.queryVec(spark, Sf0001, "merge stream window data")
    val entryIds = Ann.hierEntriesFrom(
        IncrementalKnn.coarseAll(spark, root), qv, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(entryIds.contains(1600L))
    val hits = Ann.graphTopKSeek(
        IncrementalKnn.edges(spark, root, 5),
        IncrementalKnn.vectorsAll(spark, root),
        qv, entryIds, beam = 8, hops = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(hits.head == ((1600L, 1.0)))

    // seek layout holds per segment: the vectors side pushes In(vec_id
    // into EVERY committed vecs segment scan
    val vecPlan = IncrementalKnn.vectorsAll(spark, root)
      .where(col("vec_id").isin(1600L, 1601L))
      .queryExecution.executedPlan.toString
    val nVecScans = "PushedFilters: \\[In\\(vec_id".r
      .findAllIn(vecPlan).length
    assert(nVecScans >= IncrementalKnn.version(root), vecPlan.take(2000))
  }

  test("textGraphCdcIngest: changelog deletes tombstone + inserts append in one loop; redelivery-safe; delete visible same trigger") {
    implicit val sqlCtx = spark.sqlContext
    import graft.index.{IncrementalKnn, TfIdfGraphIndex}
    import graft.search.Ann
    val corpus = graft.tables.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-txtcdc").toString + "/g"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-txtcdc-ck").toString
    val denseCorpus = TfIdfGraphIndex.embedDocsDense(spark, Sf0001, corpus)
    val centroids = denseCorpus.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    IncrementalKnn.init(denseCorpus, centroids, root, 3, 5)

    // batch 1: two inserts; batch 2: delete a CORPUS doc + one insert
    val input = MemoryStream[(String, Long, String)]
    val q = DeltaStream.textGraphCdcIngest(
      input.toDF().toDF("op", "doc_id", "text"), Sf0001, root, ckpt, 3, 5)
    try {
      input.addData(("I", 1700L, "merge stream window data"),
                    ("I", 1701L, "filter join aggregate scan"))
      q.processAllAvailable()
      input.addData(("D", 7L, ""), ("I", 1702L, "vector index probe walk"))
      q.processAllAvailable()
      // trigger 3: IN-PLACE update of a corpus doc (same id, new text)
      input.addData(("U", 11L, "spark join shuffle partition"))
      q.processAllAvailable()
    } finally q.stop()

    // the deleted corpus doc is out of every serving frame; the inserted
    // docs are in
    val vecIds = IncrementalKnn.vectorsAll(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!vecIds(7L) && vecIds(1700L) && vecIds(1701L) && vecIds(1702L))
    val edges = IncrementalKnn.edges(spark, root, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(!edges.exists(e => e._1 == 7L || e._2 == 7L))

    // the CDC loop is SELF-HEALING (repair after deletes/updates): after
    // every delete/update-carrying trigger the served graph equals a
    // rebuild over the CURRENT rows — dense ranks, no holes, and no
    // rebuild ever ran. The insert that shared the delete trigger
    // appended through the tombstone-filtered candidate arms (1702 born
    // exact), and the op=U trigger replaced doc 11's text IN PLACE
    // (same id — the old version left every read that trigger).
    val current = corpus.where(!col("doc_id").isin(7L, 11L)).unionByName(Seq(
      (11L, "spark join shuffle partition"),
      (1700L, "merge stream window data"), (1701L, "filter join aggregate scan"),
      (1702L, "vector index probe walk")).toDF("doc_id", "text"))
    val rebuilt = Ann.knnGraph(
        TfIdfGraphIndex.embedDocsDense(spark, Sf0001, current), centroids, 3, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(edges.toSeq == rebuilt.toSeq && rebuilt.nonEmpty)

    // the updated doc serves its NEW embedding (same id, new text)
    val got11 = IncrementalKnn.vectorsAll(spark, root)
      .where(col("vec_id") === 11L).collect().map(_.getSeq[Float](1))
    val want11 = TfIdfGraphIndex.embedDocsDense(spark, Sf0001,
        Seq((11L, "spark join shuffle partition")).toDF("doc_id", "text"))
      .collect().map(_.getSeq[Float](1))
    assert(got11.length == 1 && got11.head == want11.head)
  }

  test("knnIngest seek layout: graphTopKSeek == one-plan walk with pushed In(src) on a grown graph AND after reclaimFold") {
    implicit val sqlCtx = spark.sqlContext
    import graft.index.IncrementalKnn
    import graft.search.Ann
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

    // grow the graph through the streaming ingest (multi-segment state)
    val root = java.nio.file.Files.createTempDirectory("graft-knn-seek").toString + "/g"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-knn-sck").toString
    IncrementalKnn.init(emb.where(col("vec_id") % 4 === 0), centroids, root, 3, 5)
    val rest = emb.where(col("vec_id") % 4 =!= 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = DeltaStream.knnIngest(
      input.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding")),
      root, ckpt, 3, 5)
    try {
      rest.grouped(80).foreach { g => input.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(IncrementalKnn.version(root) >= 3) // genuinely multi-segment

    val qv = emb.where(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    val entryIds = Ann.hierEntries(emb, qv, 16, 3)
      .collect().map(_.getLong(0)).toSeq

    // the a27 serving contract must hold on the GROWN graph, not just the
    // one-shot KnnGraphIndex build: point-lookup walk value-identical to
    // the one-plan walk, and the per-hop edge read a pushed In(src) seek
    // on every segment scan
    def assertSeekContract(graphRoot: String, label: String): Unit = {
      import spark.implicits._
      val edges = IncrementalKnn.edges(spark, graphRoot, 5)
      val seek = Ann.graphTopKSeek(edges, emb, qv, entryIds,
          beam = 8, hops = 2, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val scan = Ann.graphTopK(edges, emb, qv, entryIds.toDF("id"),
          beam = 8, hops = 2, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(seek == scan && seek.size == 10, s"$label: seek != scan")
      val hopPlan = edges.where(col("src").isin(entryIds: _*))
        .queryExecution.executedPlan.toString
      assert(hopPlan.contains("PushedFilters: [In(src"), s"$label: $hopPlan")
      // pushed into EVERY committed segment scan, not just the first
      val nScans = "PushedFilters: \\[In\\(src".r
        .findAllIn(hopPlan).length
      assert(nScans >= IncrementalKnn.fanIn(graphRoot),
        s"$label: $nScans pushed scans < ${IncrementalKnn.fanIn(graphRoot)} segments")
    }
    assertSeekContract(root, "grown")

    // full-fold and re-assert: the fold must re-establish the sorted layout
    IncrementalKnn.reclaimFold(spark, root, 5)
    assert(IncrementalKnn.fanIn(root) == 1)
    assertSeekContract(root, "full-folded")
  }

  test("streaming vector ingest keeps the IVF index fresh via foreachBatch appendAssign") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext

    // a private trained index copy (never the shared memoized one)
    val out = Files.createTempDirectory("graft-stream-ivf").toString
    val (assigned, centroids) =
      graft.index.IvfIndex.buildTrained(spark, Sf0001, k = 4, out)
    val info = graft.index.IvfIndex.Info(assigned, centroids, nprobe = 4, 0L)
    val nBefore = spark.read.parquet(assigned).count()

    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val fresh = emb.where(col("vec_id") < 3)
      .select(col("vec_id") + 800000L, col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.index.IvfIndex.appendAssign(spark, info,
          batch.select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")))
      }
      .start()
    try {
      input.addData(fresh.take(2)); q.processAllAvailable()
      input.addData(fresh.drop(2)); q.processAllAvailable()
    } finally q.stop()

    val after = spark.read.parquet(assigned)
    assert(after.count() == nBefore + 3)
    // a query at vec 1 is now served its streamed twin at score 1.0
    val qv = emb.where(col("vec_id") === 1L).select(col("embedding").as("qvec"))
    val top = graft.search.Ann.ivfTopKAssigned(after,
      spark.read.parquet(centroids), qv, nprobe = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top.map(_._1).toSet == Set(1L, 800001L), top)
    assert(top.forall(_._2 == 1.0), top)
  }

  test("streaming CDC ingest: two micro-batches fold to the same state as one batch apply") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext

    val basePath = Files.createTempDirectory("graft-cdc").toString + "/t"
    Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "text")
      .write.parquet(basePath)

    val input = MemoryStream[(Long, Long, String, String)]
    val ckpt = Files.createTempDirectory("graft-cdc-ck").toString
    val q = DeltaStream.cdcIngest(
      input.toDF().toDF("id", "seq", "op", "text"),
      basePath, ckpt, "id", "seq", "op")
    try {
      // batch 1: update 1, insert 4
      input.addData((1L, 1L, "U", "one-v1"), (4L, 2L, "I", "four"))
      q.processAllAvailable()
      // batch 2: delete 2, re-update 1 (later seq), delete absent 99
      input.addData((2L, 3L, "D", "x"), (1L, 4L, "U", "one-v2"), (99L, 5L, "D", "x"))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(basePath)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "one-v2", 3L -> "three", 4L -> "four"), got.toString)
  }

  test("streaming ANN serve: per-batch answers equal the batch ivfTopKBatched plan") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext

    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = graft.search.Ann.ivfAssign(emb, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val queries = emb.where(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()

    val input = MemoryStream[(Long, Seq[Float])]
    val ckpt = Files.createTempDirectory("graft-ann-serve").toString
    val q = DeltaStream.annServe(
      input.toDF().toDF("qid", "qvec")
        .select(col("qid"), col("qvec").cast("array<float>").as("qvec")),
      assigned, centroids, ckpt, nprobe = 3, k = 5) { (res, _) =>
      got ++= res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      input.addData(queries.take(3)); q.processAllAvailable()
      input.addData(queries.drop(3)); q.processAllAvailable()
    } finally q.stop()

    val batchAll = graft.search.Ann.ivfTopKBatched(assigned, centroids,
        emb.where(col("vec_id") < 6)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        nprobe = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == batchAll.toSet && got.size == batchAll.length)
    assigned.unpersist()
  }

  test("streaming graph-ANN serve: per-batch answers equal the batch graphTopKBatched plan") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext

    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val centroids = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val edges = graft.search.Ann.knnGraph(emb, centroids, 3, 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()

    val queries = emb.where(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()

    val input = MemoryStream[(Long, Seq[Float])]
    val ckpt = Files.createTempDirectory("graft-graph-serve").toString
    val q = DeltaStream.graphServe(
      input.toDF().toDF("qid", "qvec")
        .select(col("qid"), col("qvec").cast("array<float>").as("qvec")),
      edges, emb, ckpt, sampleMod = 16, e = 3, beam = 8, hops = 2, k = 5) { (res, _) =>
      got ++= res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      input.addData(queries.take(3)); q.processAllAvailable()
      input.addData(queries.drop(3)); q.processAllAvailable()
    } finally q.stop()

    val batchQs = emb.where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batchAll = graft.search.Ann.graphTopKBatched(edges, emb, batchQs,
        graft.search.Ann.hierEntriesBatched(emb, batchQs, 16, 3),
        beam = 8, hops = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == batchAll.toSet && got.size == batchAll.length)
    edges.unpersist()
  }

  test("streaming hybrid serve: per-batch answers equal the batched text hybrid") {
    import java.nio.file.Files
    implicit val sqlCtx = spark.sqlContext

    val queries = Seq(
      (0L, "spark join filter the data"), (1L, "vector scan batch"),
      (2L, "merge stream window data"), (3L, "query hash table"))
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()

    val input = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft-hybrid-serve").toString
    val q = DeltaStream.hybridServe(
      input.toDF().toDF("qid", "qtext"), Sf0001, ckpt, k = 5) { (res, _) =>
      got ++= res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    try {
      input.addData(queries.take(2)); q.processAllAvailable()
      input.addData(queries.drop(2)); q.processAllAvailable()
    } finally q.stop()

    val batchAll = graft.search.SearchEngine
      .textHybridBatched(spark, Sf0001, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == batchAll.toSet && got.size == batchAll.length)
  }

  test("stateful sessionization accumulates per-user state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DeltaStream.Event]
    val q = DeltaStream.sessionize(input.toDS(), timeoutMs = 0)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try {
      input.addData(
        DeltaStream.Event(Timestamp.valueOf("2024-01-01 00:00:01"), 1L, "click", 1.0),
        DeltaStream.Event(Timestamp.valueOf("2024-01-01 00:00:02"), 1L, "click", 2.0),
        DeltaStream.Event(Timestamp.valueOf("2024-01-01 00:00:03"), 2L, "view", 7.0))
      q.processAllAvailable()
      input.addData(
        DeltaStream.Event(Timestamp.valueOf("2024-01-01 00:00:10"), 1L, "buy", 4.0))
      q.processAllAvailable()
      val out = spark.table("sessions")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(out == Set((1L, 3L, 7.0), (2L, 1L, 7.0))) // state carried across batches
    } finally q.stop()
  }
}
