package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{HashOps, TextOps}

/** Deterministic TF-IDF embedding pipeline (reference §2.9 V1/V2: the
  * `BAAI/bge-small-en-v1.5` passage/query embedder, re-expressed as a
  * self-contained deterministic transform — the zero-egress environment
  * rules out model downloads, and the DuckDB oracle rules out anything
  * not reproducible from SQL; SURVEY §7.4 "hard parts").
  *
  * Representation is deliberately **sparse-relational**: a vector is rows
  * of (id, bucket, weight) instead of a materialized array. At 100 TB this
  * is the layout that works WITH Spark, not against it:
  *  - embedding = explode + hash + two aggregations (all map-side
  *    combinable, shuffles carry only (id, bucket, weight) triples);
  *  - cosine(query, docs) over l2-normalized weights = an equi-join on
  *    bucket + a sum — the query side is a broadcast of ≤ |query terms|
  *    rows, so scoring is again one partial-aggregated shuffle on doc id;
  *  - no N×dim dense array ever shuffles.
  * The reference's parallel dual-model embedding (V7) is free here: dense
  * TF-IDF and BM25 arms are two column pipelines over one scan.
  */
object TfIdfEmbedder {

  val DefaultDim = 64

  /** Hash a token to a bucket in [0, dim). */
  def bucket(c: org.apache.spark.sql.Column, dim: Int) =
    (HashOps.tokenHash32(c) % dim).cast("int")

  /** Per-doc term frequencies in bucket space: (id, bucket, tf). */
  def termFreqs(docs: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame =
    docs.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col(idCol), bucket(col("tok"), dim).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))

  /** Corpus IDF per bucket: idf = ln((N+1)/(df+1)) + 1 (smoothed; always
    * positive so weights never vanish). Small table — broadcastable. */
  def idf(docs: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame = {
    val tf = termFreqs(docs, idCol, textCol, dim)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // tf is grouped by (id, bucket), so ids are distinct within a bucket:
    // count(1) == countDistinct(id) without the expand + double-aggregate.
    tf.groupBy(col("bucket")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .withColumn("idf",
        log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
      .select(col("bucket"), col("idf"))
  }

  /** L2-normalized TF-IDF document vectors, sparse-relational:
    * (id, bucket, w) with Σ w² = 1 per id. */
  def docVectors(docs: DataFrame, idCol: String, textCol: String,
                 dim: Int = DefaultDim): DataFrame =
    docVectorsWithIdf(docs, idCol, textCol, idf(docs, idCol, textCol, dim))

  /** [[docVectors]] against a FROZEN idf table (bucket, idf) — the
    * production embedder contract: the model (here, the corpus idf) is
    * trained once at index-build time and new documents embed into the
    * SAME space forever after (the reference never retrains its
    * `bge-small` weights per delta either). Over the training corpus
    * itself this is exactly [[docVectors]] (`EmbedderSpec` pins it);
    * over NEW docs, buckets absent from the frozen idf drop out — the
    * same semantics the query side has always had
    * ([[TfIdfIndex.queryWeights]]). A doc with no in-vocabulary token
    * yields no rows here; dense callers zero-fill it (V6 semantics). */
  def docVectorsWithIdf(docs: DataFrame, idCol: String, textCol: String,
                        idfTable: DataFrame,
                        dim: Int = DefaultDim): DataFrame = {
    val weighted = termFreqs(docs, idCol, textCol, dim)
      .join(broadcast(idfTable), "bucket")
      .withColumn("w", col("tf") * col("idf"))
    val norms = weighted.groupBy(col(idCol))
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    weighted.join(norms, idCol)
      .select(col(idCol), col("bucket"), (col("w") / col("norm")).as("w"))
  }

  /** End-to-end text search: embed query, cosine against normalized doc
    * vectors (= plain dot product via bucket join), top-k.
    *
    * Builds tf/idf ONCE and shares the DataFrame across doc weights,
    * query weights and norms — the shared subplans canonicalize
    * identically, so Spark's ReuseExchange materializes the tf shuffle a
    * single time instead of re-scanning the corpus per consumer. */
  def searchText(docs: DataFrame, idCol: String, textCol: String,
                 query: String, k: Int, dim: Int = DefaultDim): DataFrame = {
    val tf = termFreqs(docs, idCol, textCol, dim)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idfDf = tf.groupBy(col("bucket"))
      .agg(count(lit(1)).as("df")) // tf already distinct on (id, bucket)
      .crossJoin(broadcast(nDocs))
      .withColumn("idf",
        log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
      .select(col("bucket"), col("idf"))

    val weighted = tf.join(broadcast(idfDf), "bucket")
      .withColumn("w", col("tf") * col("idf"))
    val norms = weighted.groupBy(col(idCol))
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val dv = weighted.join(norms, idCol)
      .select(col(idCol), col("bucket"), (col("w") / col("norm")).as("w"))

    val qtf = docs.sparkSession.range(1).select(lit(query).as("qtext"))
      .select(explode(TextOps.tokens(col("qtext"))).as("tok"))
      .select(bucket(col("tok"), dim).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("tf"))
    val qweighted = qtf.join(idfDf, "bucket")
      .withColumn("w", col("tf") * col("idf"))
    val qnorm = qweighted.agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    val qv = qweighted.crossJoin(broadcast(qnorm))
      .select(col("bucket"), (col("w") / col("norm")).as("qw"))

    dv.join(broadcast(qv), "bucket")
      .groupBy(col(idCol))
      .agg(round(sum(col("w") * col("qw")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
