package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Empirical scaling-slope harness: replicate the sf0.1 corpus Mx (ids
  * offset per copy so keys stay unique), run the core pipeline operators
  * at 1x and Mx, and report the measured time ratio against the ideal M.
  *
  * This is the measured answer to "would this plan survive a 100x
  * scale-up": a near-linear slope (ratio ≈ M on M× data with fixed
  * parallelism) means the operator's cost is data-proportional — no
  * super-linear blowup hiding in a join fan-out or a driver collect. A
  * ratio well above M would expose an N² or skew problem; well below M
  * means fixed overheads still dominate at sf0.1 (headroom, not risk).
  *
  * Writes replicated parquet under target/scale_test/ (never the
  * read-only testdata) and prints PROBE lines. Not part of the library
  * surface; results recorded in docs/BENCHNOTES.md.
  */
object ScaleSlope {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(8)
    val spark = graft.SparkEntry.localSession("graft-scale-slope")
    val src = "/root/testdata/sf0.1"
    val base = "target/scale_test"

    def replicate(table: String, idCols: Seq[String], out: String): String = {
      val df = Tables(spark, src, table)
      val maxId = df.agg(max(col(idCols.head))).head().getLong(0) + 1
      val copies = (0 until m).map { i =>
        val shifted = idCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * maxId)))
        // Tag EVERY token with the copy index (a bijection on the token
        // vocabulary): within-copy dup structure is preserved exactly,
        // while cross-copy Jaccard drops to 0. A trailing salt is NOT
        // enough — one appended token leaves shingle Jaccard ~0.95 and
        // every doc near-dups its m-1 twins, growing pair output m^2 by
        // construction (measured: 256 -> 155k pairs) — that benchmarks a
        // pathological dup structure, not the operator's slope.
        if (shifted.columns.contains("text"))
          shifted.withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "),
              tk => concat(tk, lit(s"_$i")))))
        else shifted
      }
      copies.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$base/$out/$table.parquet")
      s"$base/$out"
    }

    // Mx corpus: embeddings + documents with disjoint id ranges per copy
    val big = {
      replicate("embeddings", Seq("vec_id"), s"x$m")
      replicate("documents", Seq("doc_id"), s"x$m")
      s"$base/x$m"
    }

    def t(label: String)(f: => Long): Unit = {
      f // warm-up (plan compile, codegen, cache-independent)
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime; val n = f
        ((System.nanoTime - t0) / 1e9, n)
      }
      println(f"PROBE $label ${runs.map(_._1).min}%.3f rows=${runs.head._2}")
    }

    def emb(d: String) = Tables.embeddings(spark, d)
    def docs(d: String) = Tables.documents(spark, d)
    // Centroid count scales WITH the corpus (10 per 1x copy — constant
    // ~list size), as a production IVF does: with centroids held fixed,
    // list sizes grow linearly and the probe join becomes quadratic —
    // that would measure a misconfigured index, not the operator. The
    // flat assign step itself is N x C dot products (C ~ sqrt(N) in
    // production), so its slope is expected SUPER-linear by design; the
    // probe-side ops stay linear because per-list size is constant.
    def centroids(d: String, copies: Int) =
      emb(d).where(col("vec_id") < 10 * copies)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

    for ((label, dir, copies) <- Seq(("1x", src, 1), (s"${m}x", big, m))) {
      t(s"ivf_assign_$label") {
        graft.search.Ann.ivfAssign(emb(dir), centroids(dir, copies)).count()
      }
      t(s"knn_graph_$label") {
        graft.search.Ann.knnGraph(emb(dir), centroids(dir, copies), 3, 5).count()
      }
      t(s"minhash_lsh_$label") {
        graft.dedup.Dedup.minhashLsh(docs(dir), "doc_id", "text",
          n = 3, threshold = 0.5).count()
      }
      t(s"exact_groups_$label") {
        graft.dedup.Dedup.exactGroups(docs(dir), "doc_id", "text").count()
      }
      t(s"bm25_score_$label") {
        // per-copy token tags: query every copy's variant so postings
        // work scales with the corpus (plain terms match nothing at Mx)
        val terms =
          if (copies == 1) Seq("join", "scan")
          else (0 until copies).flatMap(i => Seq(s"join_$i", s"scan_$i"))
        graft.search.Bm25.score(docs(dir), "doc_id", "text", terms).count()
      }
      t(s"quality_$label") {
        docs(dir).select(col("doc_id"),
          graft.functions.TextOps.qualityScore(col("text"))).count()
      }
      // Graph-walk serving slope: edges prebuilt (the amortized build is
      // knn_graph above), the probe times 8 hierarchical walks. Expected
      // shape: per-query compute is corpus-independent, but each hop's
      // frontier join SCANS the edge artifact and the coarse layer scans
      // 1/16 of the vectors — so the slope tells us when the artifact
      // scan starts to dominate and a src-pruned layout earns its keep.
      val gEdges = graft.search.Ann
        .knnGraph(emb(dir), centroids(dir, copies), 3, 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      gEdges.count()
      val gQs = emb(dir).where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      t(s"graph_walk_$label") {
        graft.search.Ann.graphTopKBatched(gEdges, emb(dir), gQs,
          graft.search.Ann.hierEntriesBatched(emb(dir), gQs, 16, 3),
          beam = 8, hops = 2, k = 5).count()
      }
      gEdges.unpersist()
      // Seek-path walk slope: same edges in the src-sorted parquet
      // layout, walk via pushed IN lookups (a27's serving form). The
      // expected slope is FLAT in I/O, not just in compute — each hop
      // reads O(beam·k) row groups wherever they land in the corpus.
      val seekPath = s"$base/seek_edges_$label"
      graft.search.Ann.knnGraph(emb(dir), centroids(dir, copies), 3, 5)
        .repartitionByRange(8, col("src"))
        .sortWithinPartitions(col("src"), col("rank"))
        .write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (1 << 20).toString)
        .parquet(seekPath)
      val sEdges = spark.read.parquet(seekPath)
      val sQv = emb(dir).where(col("vec_id") === 0)
        .select(col("embedding").as("qvec"))
      val sEntries = graft.search.Ann.hierEntries(emb(dir), sQv, 16, 3)
        .collect().map(_.getLong(0)).toSeq
      t(s"graph_seek_$label") {
        graft.search.Ann.graphTopKSeek(sEdges, emb(dir), sQv, sEntries,
          beam = 8, hops = 2, k = 10).count()
      }
    }
    spark.stop()
  }
}
