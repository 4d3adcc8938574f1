package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.{ServedParquet, Tables}

/** Per-field value-count statistics, persisted at index-build time — the
  * catalog-stats artifact the filtered-ANN selectivity router reads
  * instead of scanning the corpus per query (r10 VERDICT #4: the
  * router's probe was a full single-column aggregate per request — fine
  * at sf0.1, a corpus scan per query at 100 TB; a cluster catalog serves
  * this number from column statistics, and this artifact IS that
  * catalog entry for the local engine).
  *
  * Layout: one tiny parquet of (field, value, cnt) rows for each
  * profiled low-cardinality payload field, plus a `__total__` row
  * carrying the corpus row count — built with ONE pass per field
  * (partial-aggregated groupBy) at ensure time, sorted by (field,
  * value) so the point probe prunes to one row group. A probe is then
  * an artifact-sized point lookup: `passFraction` never touches the
  * documents table (PlanShapeSpec pins it).
  *
  * Unprofiled fields return None and the caller falls back to its scan
  * probe — stats are an accelerator, never a correctness dependency. A
  * value absent from the artifact genuinely has count 0 (the groupBy
  * saw every row), so absence means pass-fraction 0, not "unknown". */
object FieldStats {

  val Name = "fieldstats_v1"

  /** The documents table's filterable low-cardinality payload fields
    * (the filtered-search endpoints' filter_field surface). */
  val ProfiledFields: Seq[String] = Seq("source", "lang")

  private val TotalField = "__total__"

  def ensure(spark: SparkSession, dataDir: String): String =
    IndexCatalog.ensure(spark, dataDir, Name) { p =>
      val docs = Tables.documents(spark, dataDir)
      val perField = ProfiledFields.map { f =>
        docs.groupBy(col(f).cast("string").as("value"))
          .agg(count(lit(1)).as("cnt"))
          .select(lit(f).as("field"), col("value"), col("cnt"))
      }.reduce(_ unionByName _)
      val total = docs.agg(count(lit(1)).as("cnt"))
        .select(lit(TotalField).as("field"), lit("").as("value"), col("cnt"))
      perField.unionByName(total)
        .repartition(1).sortWithinPartitions(col("field"), col("value"))
        .write.mode(SaveMode.Overwrite).parquet(s"$p/stats")
    }

  /** The probe's plan: the (field === value) + total rows read from the
    * stats artifact only — exposed so tests can pin that the probe never
    * scans the documents table. */
  def probe(spark: SparkSession, dataDir: String,
            field: String, value: String): Option[DataFrame] =
    if (!ProfiledFields.contains(field)) None
    else Some(ServedParquet.read(spark, s"${ensure(spark, dataDir)}/stats")
      .where((col("field") === field && col("value") === value) ||
        col("field") === TotalField)
      .select(col("field"), col("cnt")))

  /** Fraction of documents passing `field === value`, answered from the
    * artifact (None when the field is unprofiled — callers fall back to
    * their scan probe). Cost: one point read of the tiny stats file. */
  def passFraction(spark: SparkSession, dataDir: String,
                   field: String, value: String): Option[Double] =
    probe(spark, dataDir, field, value).map { df =>
      val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = math.max(rows.getOrElse(TotalField, 0L), 1L)
      rows.getOrElse(field, 0L).toDouble / total
    }
}
