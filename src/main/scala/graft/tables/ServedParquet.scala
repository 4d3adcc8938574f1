package graft.tables

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one read path for IMMUTABLE served parquet: an [[graft.index
  * .IndexCatalog]] artifact after its `_GRAFT_INDEX_READY` marker, or a
  * [[Tables]] input table.
  *
  * `spark.read.parquet(path)` infers the schema by running a Spark job
  * that reads a file footer, so a search request that opens its tables
  * afresh pays one such job per table before its plan exists. Here the
  * schema is inferred once per (session, path) and every read is
  * `spark.read.schema(memo).parquet(path)`: the files are still listed on
  * each call (an append to a served path is seen), but no job runs.
  *
  * The key includes the session because inference depends on session
  * conf (`spark.sql.legacy.parquet.nanosAsLong` turns the events table's
  * TIMESTAMP(NANOS) column into a long); sessions are held weakly, so a
  * stopped session's entries go with it.
  *
  * Invalidation: [[invalidateUnder]] drops every entry under a path —
  * `IndexCatalog.invalidate` calls it for the artifact it deletes — and
  * [[clear]] drops everything (`DELETE /api/search/cache`). Paths whose
  * schema can change in place (`Store`/CRUD snapshots, upload targets,
  * the segmented roots of the incremental index families) must keep raw
  * `spark.read.parquet` reads.
  */
object ServedParquet {

  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, StructType]]())

  private def of(spark: SparkSession): ConcurrentHashMap[String, StructType] =
    schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, StructType]())

  def read(spark: SparkSession, path: String): DataFrame = {
    val memo = of(spark)
    // not computeIfAbsent: inference is a Spark job, and two first
    // readers racing only infer the same schema twice
    val schema = Option(memo.get(path)).getOrElse {
      val s = spark.read.parquet(path).schema
      memo.putIfAbsent(path, s)
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Drop every memoized schema at or under `root`, in every session. */
  def invalidateUnder(root: String): Unit = schemas.synchronized {
    schemas.values.asScala.foreach(
      _.keySet.removeIf(p => p == root || p.startsWith(root + "/")))
  }

  def clear(): Unit = schemas.synchronized {
    schemas.values.asScala.foreach(_.clear())
  }

  /** Paths with a memoized schema in `spark` (for tests). */
  def memoized(spark: SparkSession): Set[String] =
    Option(schemas.get(spark)).fold(Set.empty[String])(_.keySet.asScala.toSet)
}
