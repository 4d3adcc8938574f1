package servebench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.index.{IncrementalKnn, TfIdfGraphIndex}
import graft.search.{GrownServing, SearchEngine}
import graft.streaming.DeltaStream

/** The write path under test: a fixed change log of (op, doc_id, text, seq)
  * batches applied on one thread through [[DeltaStream.textGraphCdcIngest]]
  * into the grown graph root that `graph=grown` serves, with in-place
  * tail-fold compaction so the served root never moves. */
final class Ingest(spark: SparkSession, dir: String, checkpoint: String,
                   batches: Seq[Seq[(String, Long, String, Long)]],
                   traced: Boolean, probeQuery: String) {
  val root: String = TfIdfGraphIndex.ensureGrown(spark, dir)
  @volatile var done = false
  @volatile var error: Option[Throwable] = None
  val commitMs = ArrayBuffer.empty[Double]
  val firstReadMs = ArrayBuffer.empty[Double]
  val warmReadMs = ArrayBuffer.empty[Double]
  var fanInMax = IncrementalKnn.fanIn(root)
  var writeSeconds = 0.0
  var bytesWritten = 0L
  var triggerMs = Seq.empty[Double]

  private val thread = new Thread(() => run(), "bench-ingest-writer")

  def start(): Unit = thread.start()
  def join(): Unit = thread.join()

  def nChanges: Int = batches.map(_.size).sum

  private def run(): Unit = try {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Long, String, Long)]
    val before = Server.bytesUnder(root)
    val q = DeltaStream.textGraphCdcIngest(
      input.toDF().toDF("op", "doc_id", "text", "seq"), dir, root,
      checkpoint, nprobe = 3, k = 5, maxSegments = 4,
      seqCol = Some("seq"), tailFoldCompaction = true)
    try {
      batches.foreach { b =>
        val offered = System.nanoTime()
        input.addData(b)
        q.processAllAvailable()
        commitMs += (System.nanoTime() - offered) / 1e6
        fanInMax = math.max(fanInMax, IncrementalKnn.fanIn(root))
        if (traced) {
          def read() = {
            val s = System.nanoTime()
            SearchEngine.graphSearchGrown(spark, dir, probeQuery, 10).toJSON.collect()
            (System.nanoTime() - s) / 1e6
          }
          firstReadMs += read()
          warmReadMs += read()
        }
      }
      // commits only: a traced run's probe reads are not write time
      writeSeconds = commitMs.sum / 1e3
      triggerMs = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get("triggerExecution")))
        .map(_.doubleValue)
    } finally q.stop()
    bytesWritten = Server.bytesUnder(root) - before
  } catch {
    case e: Throwable => error = Some(e)
  } finally done = true

  /** Ids the grown root serves now (its merged vector frame). */
  def servedIds(): Seq[Long] =
    GrownServing.of(spark, root, 5).vectors.select("vec_id").collect()
      .map(_.getLong(0)).toSeq.sorted

  def status: String =
    s"""{"done":$done,""" +
      s""""error":${Server.quote(error.map(_.toString).getOrElse(""))}}"""
}

object Ingest {
  /** Change-log batches from the generator's JSON file. */
  def readLog(path: String): Seq[Seq[(String, Long, String, Long)]] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    tree.elements().asScala.toSeq.map(_.elements().asScala.toSeq.map { op =>
      (op.get(0).asText, op.get(1).asLong, op.get(2).asText, op.get(3).asLong)
    })
  }
}
