package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** r16 probe (VERDICT item 8): data-parallel core scaling at a larger
  * SF. The bench's 8-vs-32-core ratios at sf0.1 are ≈1 because the
  * suite is job-floor-bound there (~0.05 s/job floor vs ~18 s engine
  * time across 217 queries); that leaves "does the heavy work actually
  * scale with cores" unvalidated. This probe times the heaviest
  * shuffle-bound operators on an Mx replica of sf0.1 (ScaleSlope's
  * replication contract: ids offset, tokens tagged per copy so dup
  * structure does not grow m²) at whatever core count
  * `SPARK_GRAFT_CPUS` gives it. Run it twice — 32 and 8 — and compare:
  * a ratio near 4 for the shuffle-heavy operators means the plans are
  * data-parallel; a ratio near 1 would mean a serial bottleneck
  * (driver loop, single partition, one giant task).
  *
  * Replicated parquet is written once under target/scale_test/x$m and
  * reused if present (both runs must read the same bytes).
  *
  * Run:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProbeCores 8"
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.tools.ProbeCores 8"
  */
object ProbeCores {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(8)
    val cpus = graft.SparkEntry.cpus
    val spark = graft.SparkEntry.localSession(s"graft-probe-cores-$cpus")
    val src = "/root/testdata/sf0.1"
    val big = s"target/scale_test/x$m"

    def replicate(table: String, idCols: Seq[String]): Unit = {
      val out = s"$big/$table.parquet"
      if (new java.io.File(out, "_SUCCESS").exists()) return
      val df = Tables(spark, src, table)
      val maxId = df.agg(max(col(idCols.head))).head().getLong(0) + 1
      val copies = (0 until m).map { i =>
        val shifted = idCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * maxId)))
        if (shifted.columns.contains("text"))
          shifted.withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "),
              tk => concat(tk, lit(s"_$i")))))
        else shifted
      }
      copies.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(out)
    }
    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))

    def t(label: String)(f: => Long): Unit = {
      f // warm-up: plan compile + codegen
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime; val n = f
        ((System.nanoTime - t0) / 1e9, n)
      }
      println(f"PROBE cores=$cpus $label ${runs.map(_._1).min}%.3f rows=${runs.head._2}")
    }

    def docs = Tables.documents(spark, big)
    def emb = Tables.embeddings(spark, big)
    def centroids = emb.where(col("vec_id") < 10 * m)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

    // the heaviest shuffle-bound operator families in the suite
    t("minhash_lsh") {   // d3/d20 LSH arm: signature shuffle + bucket agg
      graft.dedup.Dedup.minhashLsh(docs, "doc_id", "text", 3, 0.5).count()
    }
    t("simhash_pairs") { // d6/d7/g1-g3 feeder: banded simhash self-join
      graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text", 3).count()
    }
    t("bigram_lm") {     // t31: two corpus-scale shuffles (count + fold)
      graft.functions.CorpusStats.bigramSurprisal(docs).count()
    }
    t("bm25_score") {    // s3 family: postings + corpus stats
      val terms = (0 until m).flatMap(i => Seq(s"join_$i", s"scan_$i"))
      graft.search.Bm25.score(docs, "doc_id", "text", terms).count()
    }
    t("knn_graph") {     // a18/a19 build: corpus x nprobe candidate join
      graft.search.Ann.knnGraph(emb, centroids, 3, 5).count()
    }
    t("lineitem_agg") {  // q1-shape: wide-table scan + groupBy
      Tables(spark, big, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sq"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sd"),
          count(lit(1)).as("n"))
        .count()
    }
    spark.stop()
  }
}
