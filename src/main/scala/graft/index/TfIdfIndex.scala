package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Store
import graft.tables.Tables

/** Prebuilt TF-IDF embedding index — build/query split for the dense-ish
  * text-search path (reference V1/V2: passages are embedded once at
  * indexing time, `scripts/indexing.py:100-106,474-485`; queries embed only
  * the query string). `TfIdfEmbedder.searchText` is the self-contained
  * twin; it rebuilds tf/idf/norms per query. This index persists:
  *
  *   - `vectors/` (id, bucket, w) — L2-normalized sparse doc vectors,
  *     range-sorted by bucket with a bloom filter on bucket;
  *   - `idf/`     (bucket, idf)   — the 64-row corpus idf table.
  *
  * The query's buckets are pure md5 token hashes (no data dependence), so
  * the query side computes them DRIVER-SIDE and pushes a literal
  * `bucket IN (...)` into the vectors scan — the inverted-index seek. The
  * query vector itself still comes from the persisted idf table via a
  * broadcast join (≤ |query tokens| rows); no driver collect.
  */
object TfIdfIndex {

  val Name = "tfidf"
  val Dim: Int = TfIdfEmbedder.DefaultDim

  def build(docs: DataFrame, idCol: String, textCol: String, out: String,
            dim: Int = Dim, numFiles: Int = 8): Unit = {
    Store.optimizeLayout(
      TfIdfEmbedder.docVectors(docs, idCol, textCol, dim),
      s"$out/vectors", Seq("bucket", idCol), numFiles,
      bloomCols = Seq("bucket"))
    TfIdfEmbedder.idf(docs, idCol, textCol, dim)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/idf")
  }

  /** Driver-side twin of `TfIdfEmbedder.bucket` (md5 hex prefix, like
    * `HashOps.tokenHash32`): first 8 md5 hex chars as int64, mod dim.
    * Must stay bit-identical to the Column version — `EmbedderSpec`
    * asserts the parity. */
  def bucketOf(token: String, dim: Int = Dim): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 8), 16) % dim).toInt
  }

  /** Whitespace tokens, empties dropped — mirrors `TextOps.tokens`. */
  def tokensOf(query: String): Seq[String] =
    query.split(" ").toSeq.filter(_.nonEmpty)

  /** Per-index idf table cached on the driver (it is `dim` rows — 64 — and
    * immutable once built; the same O10 pattern as the query-vector LRU:
    * embedding the query is driver-side work, queries touch the cluster
    * only to score). */
  private val idfCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Double]]()
  /** Drop cached idf tables living under `root` (wired into
    * `IndexCatalog.invalidate` so a rebuild can't serve stale idf). */
  def invalidateIdfCacheUnder(root: String): Unit =
    idfCache.keySet.removeIf(_.startsWith(root))
  private def idfOf(spark: SparkSession, indexDir: String): Map[Int, Double] =
    idfCache.computeIfAbsent(indexDir, _ =>
      spark.read.parquet(s"$indexDir/idf").collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap)

  /** The query embedded driver-side: bucket -> L2-normalized tf·idf.
    * Buckets are md5 token hashes and idf is the cached table, so no
    * cluster work happens here. Buckets absent from the corpus idf drop
    * out — the same semantics as the corpus-side join. */
  def queryWeights(spark: SparkSession, indexDir: String, query: String,
                   dim: Int = Dim): Map[Int, Double] = {
    val idf = idfOf(spark, indexDir)
    val qtf = tokensOf(query).map(bucketOf(_, dim))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val w = qtf.toSeq.sortBy(_._1)
      .flatMap { case (b, tf) => idf.get(b).map(i => b -> tf * i) }
    val norm = math.sqrt(w.map { case (_, x) => x * x }.sum)
    w.map { case (b, x) => b -> x / norm }.toMap
  }

  /** Top-k text search against a prebuilt index: ONE pushed-filter scan of
    * the query's bucket ranges, weights applied via a literal map (no
    * query-side joins at all), one partial-aggregated shuffle on id.
    * Hash-exact same results as `TfIdfEmbedder.searchText`. */
  def searchText(spark: SparkSession, indexDir: String, idCol: String,
                 query: String, k: Int, dim: Int = Dim): DataFrame = {
    val qw = queryWeights(spark, indexDir, query, dim)
    val vectors = spark.read.parquet(s"$indexDir/vectors")
    if (qw.isEmpty) // no query token appears in the corpus -> empty result
      return vectors.where(lit(false))
        .groupBy(col(idCol)).agg(round(sum(col("w")), 6).as("score"))
    vectors
      .where(col("bucket").isin(qw.keys.toSeq: _*)) // pushed: In(bucket, ...)
      .withColumn("qw", element_at(typedlit(qw), col("bucket")))
      .groupBy(col(idCol))
      .agg(round(sum(col("w") * col("qw")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Cursor-paged [[searchText]] — the dense arm of the `search_after`
    * deep-pagination contract (sparse twin:
    * [[graft.index.Bm25Index.topKAfter]], same argument: the cursor
    * filter sits BEFORE the top-k, so page N is page 1's plan, never
    * OFFSET's O(N·k) rows through the final ordering). */
  def searchTextAfter(spark: SparkSession, indexDir: String, idCol: String,
                      query: String, k: Int,
                      afterScore: Double, afterId: Long,
                      dim: Int = Dim): DataFrame = {
    val qw = queryWeights(spark, indexDir, query, dim)
    val vectors = spark.read.parquet(s"$indexDir/vectors")
    if (qw.isEmpty)
      return vectors.where(lit(false))
        .groupBy(col(idCol)).agg(round(sum(col("w")), 6).as("score"))
    vectors
      .where(col("bucket").isin(qw.keys.toSeq: _*)) // pushed: In(bucket, ...)
      .withColumn("qw", element_at(typedlit(qw), col("bucket")))
      .groupBy(col(idCol))
      .agg(round(sum(col("w") * col("qw")), 6).as("score"))
      .where(col("score") < afterScore ||
        (col("score") === afterScore && col(idCol) > afterId))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batched [[searchText]]: N text queries through ONE pushed-filter scan
    * of the UNION of their bucket ranges. Each query embeds driver-side as
    * usual; the (qid, bucket, qw) rows — ≤ N·|query tokens| of them — ride
    * a broadcast join instead of a literal map, scores aggregate per
    * (qid, id), and the top-k cut is a per-qid rank window (partial
    * WindowGroupLimit below the qid shuffle). Per-qid results are
    * hash-exact [[searchText]] (IndexSpec pins the loop equality); the
    * vectors table and the job floor are paid once per BATCH. */
  def searchTextBatched(spark: SparkSession, indexDir: String, idCol: String,
                        queries: Seq[(Long, String)], k: Int,
                        dim: Int = Dim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qw = queries.flatMap { case (qid, q) =>
      queryWeights(spark, indexDir, q, dim)
        .toSeq.map { case (b, w) => (qid, b, w) }
    }
    val vectors = spark.read.parquet(s"$indexDir/vectors")
    if (qw.isEmpty) // no query token appears in the corpus -> empty result
      return vectors.where(lit(false))
        .select(lit(0L).as("qid"), col(idCol), lit(0.0).as("score"))
    val qdf = spark.createDataFrame(qw).toDF("qid", "bucket", "qw")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol).asc)
    vectors
      .where(col("bucket").isin(qw.map(_._2).distinct: _*)) // pushed union seek
      .join(broadcast(qdf), "bucket")
      .groupBy(col("qid"), col(idCol))
      .agg(round(sum(col("w") * col("qw")), 6).as("score"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("qid"), col(idCol), col("score"))
      .orderBy(col("qid").asc, col("score").desc, col(idCol).asc)
  }

  /** Ensure the documents-table index for `dataDir` exists (built once). */
  def ensure(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, Name)(
      build(Tables.documents(spark, dataDir), "doc_id", "text", _))
}
