package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Store
import graft.tables.{ServedParquet, Tables}

/** Exact-match key index: the documents table rewritten with ingest-time
  * NORMALIZED lookup columns, range-sorted by the primary key and with
  * parquet bloom filters on both keys.
  *
  * The reference normalizes only the *query* and matches stored values
  * exactly against its keyword payload indexes
  * (`app/services/search_service.py:214`, `scripts/indexing.py:383-443`) —
  * which is what makes its exact lookups 1-5 ms instead of a 100+ ms scan.
  * The Spark equivalent: store `upper(trim(key))` as its own column so the
  * query-side predicate is a bare `col === lit` that reaches the parquet
  * scan (`PushedFilters: [EqualTo(...)]`), letting row-group min/max stats
  * (from the sort) and bloom filters (for high-cardinality keys) prune I/O.
  * Wrapping the column in `upper(trim(...))` at query time — the previous
  * design — defeats every one of those layers.
  */
object KeyIndex {

  val Name = "keys"

  /** Normalization applied to stored keys AND (query-side, in Scala) to
    * the lookup string — the two must match, like the reference's
    * `.strip().upper()` on both sides of its keyword index. */
  def normalize(q: String): String = q.trim.toUpperCase(java.util.Locale.ROOT)

  def build(spark: SparkSession, dataDir: String, out: String,
            numFiles: Int = 4): Unit = {
    val docs = Tables.documents(spark, dataDir)
      .withColumn("source_norm", upper(trim(col("source"))))
      .withColumn("lang_norm", upper(trim(col("lang"))))
    Store.optimizeLayout(docs, out, Seq("source_norm", "doc_id"), numFiles,
      bloomCols = Seq("source_norm", "lang_norm"))
  }

  def ensure(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, Name)(build(spark, dataDir, _))

  /** The indexed documents table (builds on first use). */
  def read(spark: SparkSession, dataDir: String): DataFrame =
    ServedParquet.read(spark, ensure(spark, dataDir))
}
