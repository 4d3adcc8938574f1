package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.tables.Tables

/** Typed core model (the brief's `Dataset[T]` guidance: case-class
  * encoders where type safety helps — the stable document/embedding core —
  * while the dynamic payload stays DataFrame, SURVEY §1.5).
  */
final case class Doc(doc_id: Long, text: String, lang: String,
                     source: String, n_chars: Long)

final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** A scored search hit (the reference's `SearchResult` dataclass,
  * `app/services/search_service.py:42-50`). */
final case class Hit(id: Long, score: Double)

object Model {
  def documents(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._
    Tables.documents(spark, dir).as[Doc]
  }

  def embeddings(spark: SparkSession, dir: String): Dataset[Embedding] = {
    import spark.implicits._
    Tables.embeddings(spark, dir).as[Embedding]
  }

  /** Typed view over any (id, score) result DataFrame. */
  def asHits(df: org.apache.spark.sql.DataFrame): Dataset[Hit] = {
    import df.sparkSession.implicits._
    df.select("id", "score").as[Hit]
  }
}
