package graft.tools

import org.apache.spark.sql.functions.{col, floor => ffloor, row_number}
import org.apache.spark.storage.StorageLevel

/** Scale-slope leg for the FOUR batched serving modes (r13 verdict #4):
  * dense IVF, worst-case BM25, hybrid RRF, graph walk — the exact
  * amortized legs Bench grades against BASELINE.md's bands — measured at
  * sf0.01 / sf0.1 / sf1 (the 10× `tools/MakeScaled` replica under
  * target/sf1) on one JVM, so the cross-sf ratios are same-floor
  * comparisons. The 2×-of-reference bar is proven at sf0.1 by the round
  * bench; THIS probe is the measured evidence that the bar survives a
  * corpus scale-up: per-query amortized latency should stay ~flat
  * (seek-path index reads + batched plans pay per-BATCH fixed cost and
  * per-QUERY work bounded by probed lists / posting seeks, not corpus
  * size), and the probe REQUIRES sublinearity — a mode whose per-query
  * latency grew at or past the corpus ratio is a real finding and fails
  * the run loudly.
  *
  * Usage: runMain graft.tools.ProbeServingSlope [dir1 dir2 ...]
  * (default: /root/testdata/sf0.01 /root/testdata/sf0.1 target/sf1 —
  * build target/sf1 with `runMain graft.tools.MakeScaled` first).
  * Prints PROBE lines; results recorded in docs/BENCHNOTES.md. Not part
  * of the library surface.
  */
object ProbeServingSlope {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1", "target/sf1")
    val spark = graft.SparkEntry.localSession("graft-serving-slope")
    val servingSpark = graft.search.ServingSession.of(spark)

    def p50(f: => Unit): Double = {
      f // warm-up: artifact first-touch + codegen, outside the timing
      Seq.fill(3) {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }

    // (dir -> mode -> per-query ms) + corpus sizes for the slope bound
    val results = dirs.map { dir =>
      val nEmb = graft.tables.Tables.embeddings(servingSpark, dir).count()
      val nDocs = graft.tables.Tables.documents(servingSpark, dir).count()

      // dense: trained-IVF 256-batch (Bench's leg, verbatim shape)
      val (ap, cp) = graft.index.IvfIndex.ensureTrained(servingSpark, dir, k = 16)
      val assigned = servingSpark.read.parquet(ap)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val centroids = servingSpark.read.parquet(cp)
        .persist(StorageLevel.MEMORY_AND_DISK)
      assigned.count(); centroids.count()
      val bnD = 256
      val dense = p50 {
        val queries = graft.tables.Tables.embeddings(servingSpark, dir)
          .where(col("vec_id") < bnD)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        graft.search.Ann
          .ivfTopKBatched(assigned, centroids, queries, nprobe = 4, k = 10)
          .count()
        ()
      } / bnD * 1000

      // BM25 worst case: highest-df term pairs, 128-batch
      val idx = graft.index.Bm25Index.ensure(servingSpark, dir)
      val bnB = 128
      val topTerms = servingSpark.read.parquet(s"$idx/termstats")
        .orderBy(col("df").desc, col("term").asc).limit(2 * bnB)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("df").desc, col("term").asc)))
        .select((ffloor((col("rn") - 1) / 2)).cast("long").as("qid"), col("term"))
        .localCheckpoint()
      val bm25 = p50 {
        graft.index.Bm25Index
          .topKBatched(servingSpark, idx, "doc_id", topTerms, "qid", "term", 10)
          .count()
        ()
      } / bnB * 1000

      // MaxScore-pruned BM25 on the SAME worst-case query set — the
      // scale path for the one mode whose exact plan must scan posting
      // lists that grow with the corpus (pruning skips docs that cannot
      // reach the per-qid threshold, so scored work tracks k, not df)
      val msQueries = servingSpark.read.parquet(s"$idx/termstats")
        .orderBy(col("df").desc, col("term").asc).limit(2 * bnB)
        .collect().map(_.getString(0)).grouped(2).toSeq
        .zipWithIndex.map { case (ts, i) => (i.toLong, ts.toSeq) }
      val bm25ms = p50 {
        graft.index.Bm25Index
          .topKMaxScoreBatched(servingSpark, idx, "doc_id", msQueries, 10)
          .count()
        ()
      } / bnB * 1000

      // hybrid RRF: trained-IVF dense arm + BM25 arm, 64-batch
      val bnH = 64
      val termPairs = servingSpark.read.parquet(s"$idx/termstats")
        .orderBy(col("df").desc, col("term").asc).limit(2 * bnH)
        .collect().map(_.getString(0)).grouped(2).toSeq
      val hQueries = termPairs.zipWithIndex.map { case (ts, i) =>
        (i.toLong, i.toLong, ts.toSeq)
      }
      val hybrid = p50 {
        graft.search.SearchEngine
          .hybridBatchedIvf(servingSpark, dir, hQueries, 10,
            index = Some((assigned, centroids)))
          .count()
        ()
      } / bnH * 1000

      // graph walk: text queries over the tfidf-space edge artifact,
      // 32-batch
      val bnG = 32
      val gQueries = termPairs.take(bnG).zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "))
      }
      val graph = p50 {
        graft.search.SearchEngine
          .graphSearchBatched(servingSpark, dir, gQueries, 10)
          .count()
        ()
      } / bnG * 1000

      // graph walk with LADDER entry selection (r15): same batched seek
      // walk, but entries come from the sparsest tfidf rung with >= 64
      // candidates instead of the fixed mod-16 coarse layer — the
      // corpus-INDEPENDENT entry scan. At probe scale the mod-16 layer
      // is already tiny, so expect parity here; the leg exists to prove
      // the opt-in path serves correctly and costs nothing extra where
      // corpora are small.
      sys.props("graft.graph.entry.ladder.min.rows") = "64"
      val graphLadder =
        try p50 {
          graft.search.SearchEngine
            .graphSearchBatched(servingSpark, dir, gQueries, 10)
            .count()
          ()
        } / bnG * 1000
        finally sys.props.remove("graft.graph.entry.ladder.min.rows")

      assigned.unpersist(blocking = false)
      centroids.unpersist(blocking = false)
      println(f"PROBE serving dir=$dir n_emb=$nEmb n_docs=$nDocs " +
        f"dense_ms=$dense%.2f bm25_ms=$bm25%.2f bm25_maxscore_ms=$bm25ms%.2f " +
        f"hybrid_ms=$hybrid%.2f graph_ms=$graph%.2f " +
        f"graph_ladder_ms=$graphLadder%.2f")
      (dir, nEmb, nDocs,
        Map("dense" -> dense, "bm25" -> bm25, "bm25_maxscore" -> bm25ms,
          "hybrid" -> hybrid, "graph" -> graph,
          "graph_ladder" -> graphLadder))
    }

    // Slope between the two LARGEST corpora (sf0.1 -> sf1 in the default
    // run): per-query latency ratio vs corpus ratio per mode. The
    // sf0.01 -> sf0.1 hop mostly measures the per-batch fixed cost
    // dissolving and is reported but not asserted on.
    if (results.size >= 2) {
      val lo = results(results.size - 2)
      val hi = results.last
      val corpusRatio = math.max(
        hi._2.toDouble / lo._2, hi._3.toDouble / lo._3)
      for (mode <- Seq("dense", "bm25", "bm25_maxscore", "hybrid", "graph",
                       "graph_ladder")) {
        val ratio = hi._4(mode) / lo._4(mode)
        println(f"SLOPE $mode ${lo._1} -> ${hi._1}: " +
          f"${lo._4(mode)}%.2f -> ${hi._4(mode)}%.2f ms/query " +
          f"(x$ratio%.2f at x$corpusRatio%.1f data)")
        // the one-line scale assertion: amortized serving must stay
        // SUBLINEAR in corpus size — a mode at or past the corpus ratio
        // has a probed-list/posting-seek plan that stopped pruning
        require(ratio < corpusRatio,
          f"$mode per-query latency scaled x$ratio%.2f at x$corpusRatio%.1f " +
            "data — superlinear serving is a plan regression, not noise")
      }
    }
    spark.stop()
  }
}
