package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.Ann
import graft.tables.Tables

/** Persisted IVF index + the registry the [[graft.plans.IvfAnnRewrite]]
  * optimizer rule consults (reference O4: Qdrant builds HNSW at indexing
  * time, `scripts/indexing.py:326-340`, and the search engine transparently
  * serves `ORDER BY similarity LIMIT k` from it, falling back to exact
  * scan below `full_scan_threshold`).
  *
  * Build: vectors assigned to their nearest centroid, persisted
  * PARTITIONED BY the centroid id — probing reads only the probed lists,
  * and the probe join is on the partition column so dynamic partition
  * pruning can skip whole directories.
  *
  * Query: nothing — users keep writing the brute-force form
  * (`ORDER BY cosine_sim(embedding, q) DESC LIMIT k`) against a scan
  * tagged with `option("graft.ivf.source", dir)`; the optimizer rule swaps
  * in the index when one is registered and the relation is larger than the
  * full-scan threshold.
  */
object IvfIndex {

  val Name = "ivf"
  val SourceOption = "graft.ivf.source"

  /** Registered index artifacts for one data dir. `fullScanThresholdBytes`
    * mirrors Qdrant's `full_scan_threshold`: below it, exact scan beats
    * index traversal and the rewrite declines to fire. `idCol`/`vecCol`
    * name the indexed columns of the source relation — the rewrite only
    * fires when the query's id projection and cosine argument resolve to
    * exactly these columns (the index stores nothing else). */
  final case class Info(assignedPath: String, centroidsPath: String,
                        nprobe: Int, fullScanThresholdBytes: Long,
                        idCol: String = "vec_id", vecCol: String = "embedding")

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Info]()

  def register(sourceKey: String, info: Info): Unit = registry.put(sourceKey, info)
  def lookup(sourceKey: String): Option[Info] = Option(registry.get(sourceKey))

  /** Build centroids + assignment for `dataDir`'s embeddings table and
    * register them for the rewrite. Centroid choice mirrors the a1 query
    * (first 10 stored vectors) so the rewritten plan is oracle-checkable
    * against the same SQL. */
  def ensure(spark: SparkSession, dataDir: String, nprobe: Int = 3,
             fullScanThresholdBytes: Long = 0L): Info = {
    val out = IndexCatalog.ensure(spark, dataDir, Name) { p =>
      val emb = Tables.embeddings(spark, dataDir)
      val centroids = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      centroids.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$p/centroids")
      Ann.ivfAssign(emb, centroids)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cid")
        .parquet(s"$p/assigned")
    }
    val info = Info(s"$out/assigned", s"$out/centroids", nprobe,
      fullScanThresholdBytes)
    register(dataDir, info)
    info
  }

  /** Production IVF build: K-MEANS-TRAINED centroids (seeded, via
    * `MlIndex.fitIvfCentroids`) instead of the a1/a4 oracle path's fixed
    * stored-vector centroids. Trained centroids balance list sizes, which
    * is what keeps nprobe/k recall stable as the corpus grows — the
    * fixed-vector variant exists only because the DuckDB oracle needs
    * engine-independent centroids. Returns (assignedPath, centroidsPath);
    * `IvfRecallSpec`-style checks assert top-k recall vs brute force. */
  def buildTrained(spark: SparkSession, dataDir: String, k: Int,
                   out: String): (String, String) = {
    val emb = Tables.embeddings(spark, dataDir)
    val assembled = emb.select(col("vec_id"), col("embedding"))
      .withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(col("embedding")))
    val model = graft.index.MlIndex.fitIvfCentroids(assembled, k)
    val centroidRows = model.clusterCenters.zipWithIndex.map {
      case (c, i) => (i.toLong, c.toArray.map(_.toFloat))
    }
    import spark.implicits._
    val centroids = centroidRows.toSeq.toDF("cid", "cvec")
    centroids.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/centroids")
    graft.search.Ann.ivfAssign(emb, centroids)
      .write.mode(SaveMode.Overwrite).partitionBy("cid").parquet(s"$out/assigned")
    (s"$out/assigned", s"$out/centroids")
  }

  /** Memoized trained-centroid build (the production path): kmeans
    * centroids via [[buildTrained]], persisted once per data dir through
    * [[IndexCatalog.ensure]]. Returns (assignedPath, centroidsPath).
    *
    * The artifact key INCLUDES k: callers with different list counts
    * (a6/a8's k=8 exact-by-nprobe=k oracle vs the bench's k=16 serving
    * store) must not collide — the pre-k-keyed name was first-builder-
    * wins, so whichever ran first silently handed the other the wrong
    * list geometry (a6's "probe all 8 lists = brute force" invariant
    * breaks against a 16-list store; caught by an sf0.1 oracle sweep). */
  def ensureTrained(spark: SparkSession, dataDir: String, k: Int = 8)
      : (String, String) = {
    val out = IndexCatalog.ensure(spark, dataDir, s"ivf_trained_v2_k$k") { p =>
      buildTrained(spark, dataDir, k, p); ()
    }
    (s"$out/assigned", s"$out/centroids")
  }

  /** The embeddings scan TAGGED as rewritable: the option travels on the
    * file relation, so the optimizer rule fires only on reads that opted
    * in — an untagged `Tables.embeddings` scan (s1's exact path) is never
    * silently made approximate. */
  def readRewritable(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.option(SourceOption, dataDir)
      .parquet(s"$dataDir/embeddings.parquet")

  /** Registry key for the trained-centroid index of a data dir. Distinct
    * from the bare `dataDir` key so the oracle-reproducible fixed-vector
    * index ([[ensure]]) and the production kmeans index can coexist, each
    * reachable through its own scan tag. */
  def trainedKey(dataDir: String): String = s"$dataDir#trained"

  /** [[ensureTrained]] + registration for the optimizer rewrite: the
    * production serving wiring. Queries keep the brute-force declarative
    * shape against [[readRewritableTrained]]; execution probes `nprobe`
    * of the `k` kmeans lists. `nprobe = k` is exactly brute force (every
    * vector is in exactly one list, scoring is exact cosine), which is
    * what lets a rewritten query stay oracle-checkable with no centroid
    * knowledge on the oracle side. */
  def ensureTrainedRegistered(spark: SparkSession, dataDir: String,
                              k: Int = 8, nprobe: Int = 8,
                              fullScanThresholdBytes: Long = 0L): Info = {
    val (assigned, centroids) = ensureTrained(spark, dataDir, k)
    val info = Info(assigned, centroids, nprobe, fullScanThresholdBytes)
    register(trainedKey(dataDir), info)
    info
  }

  /** Embeddings scan tagged to be served from the TRAINED index. */
  def readRewritableTrained(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.option(SourceOption, trainedKey(dataDir))
      .parquet(s"$dataDir/embeddings.parquet")

  /** Incremental index maintenance: assign a batch of NEW vectors to the
    * existing centroids and append their lists in place — the
    * `foreachBatch` body of a streaming upsert pipeline. Centroids are
    * NOT retrained (that is a periodic rebuild, exactly Qdrant's
    * optimizer-segment model): a drifting corpus degrades list balance,
    * not correctness, since assignment is always nearest-centroid at
    * append time and queries probe by centroid distance.
    *
    * `newVecs` must be (vec_id, embedding) rows with ids NOT already in
    * the index — this is an append, not an upsert; replacing an existing
    * id requires a rebuild (or a versioned assignment layout). Each
    * append writes only the partitions its batch touches.
    */
  def appendAssign(spark: SparkSession, info: Info, newVecs: DataFrame): Unit = {
    val centroids = spark.read.parquet(info.centroidsPath)
    Ann.ivfAssign(newVecs, centroids)
      .write.mode(SaveMode.Append)
      .partitionBy("cid")
      .parquet(info.assignedPath)
  }

  /** Idempotently attach the rewrite rule to an existing session (the
    * config-based path is `spark.sql.extensions=graft.GraftExtensions`). */
  def enable(spark: SparkSession): Unit = {
    val has = spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[graft.plans.IvfAnnRewrite])
    if (!has) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new graft.plans.IvfAnnRewrite(spark)
    }
  }
}
