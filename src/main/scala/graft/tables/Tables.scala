package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided synthetic tables (see TESTDATA.md).
  *
  * The reference's unit of storage is one wide point collection
  * (id, vectors, payload) — `/root/reference/scripts/indexing.py:556-568`.
  * We model it as `documents` (payload) joined to `embeddings` (dense
  * vectors) on `doc_id == vec_id`; columnar parquet at rest so column
  * pruning and predicate pushdown come free from the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    ServedParquet.read(spark, s"$dir/$name.parquet")

  def documents(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "documents")

  /** Events table with `ts` normalized to TimestampType. The driver writes
    * parquet TIMESTAMP(NANOS), which Spark only reads as long via
    * `spark.sql.legacy.parquet.nanosAsLong` — convert with integer
    * division (a double division would lose sub-ms precision at 2024-era
    * epoch-nano magnitudes ~1.7e18 > 2^53). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = apply(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "embeddings")

  /** The "point collection": payload + dense vector per document.
    *
    * Equi-join on the id; at cluster scale both sides would be bucketed
    * by id so this is a co-located join, and the embedding column is
    * only read when the query actually scores vectors (column pruning).
    */
  def collection(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).join(
      embeddings(spark, dir).withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))

  /** Register every table as a temp view for `spark.sql` use. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
