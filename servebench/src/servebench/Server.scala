package servebench

import java.lang.management.ManagementFactory
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpExchange

import org.apache.spark.sql.SparkSession

import graft.index.{Bm25Index, IndexCatalog, KeyIndex, TfIdfGraphIndex, TfIdfIndex}
import graft.serve.HttpServe

/** The benchmark's server process: one Spark session over the generated
  * corpus, the index artifacts the workload's routes read (each built and
  * timed here, into the fresh `GRAFT_INDEX_DIR` the caller gives), and
  * [[HttpServe]] over [[graft.serve.Api]] on an ephemeral port.
  *
  * Besides the API it serves a few `/bench/` control routes on the same
  * port for the load generator: heap after a full GC, the ingest writer,
  * and the traced in-process replay. It serves until terminated.
  *
  *   Server <dataDir> <workDir> <artifacts,comma,separated> <trace 0|1>
  *
  * Prints `BENCH_READY {json}` on stdout once it serves. */
object Server {

  def main(args: Array[String]): Unit = {
    val Array(dir, work, artifactList, traceFlag) = args
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("servebench").master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener =
      if (traceFlag == "1") Some(new WorkListener) else None
    listener.foreach(spark.sparkContext.addSparkListener(_))

    val builds = artifactList.split(",").toSeq.filter(_.nonEmpty).map { a =>
      val t0 = System.nanoTime()
      val path = a match {
        case "tfidf" => TfIdfIndex.ensure(spark, dir)
        case "bm25" => Bm25Index.ensure(spark, dir)
        case "keys" => KeyIndex.ensure(spark, dir)
        case "grown" => TfIdfGraphIndex.ensureGrown(spark, dir)
      }
      (a, (System.nanoTime() - t0) / 1e9, bytesUnder(path))
    }
    require(IndexCatalog.root.startsWith(work), "GRAFT_INDEX_DIR must be under the run dir")

    val server = HttpServe.start(spark, dir, 0, threads = nproc)
    val state = new State(spark, dir, work, listener)
    server.createContext("/bench/", state.handle(_))
    val buildJson = builds.map { case (a, s, b) =>
      s""""index.build_s.$a":$s,"index.bytes.$a":$b""" }.mkString(",")
    println(s"""BENCH_READY {"port":${server.getAddress.getPort},$buildJson}""")
    System.out.flush()
    Thread.currentThread().join() // serves until terminated
  }

  def bytesUnder(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Control-route state: the ingest writer and the trace replay. */
  final class State(spark: SparkSession, dir: String, work: String,
                    listener: Option[WorkListener]) {
    @volatile private var ingest: Option[Ingest] = None
    private lazy val replay = new Replay(spark, dir, listener.get)

    def handle(ex: HttpExchange): Unit = {
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split('&').filter(_.nonEmpty).map(_.split("=", 2)).map {
          case Array(k, v) => k -> URLDecoder.decode(v, UTF_8)
          case Array(k) => k -> ""
        }.toMap
      val (status, body) =
        try (200, route(ex.getRequestURI.getPath, params))
        catch { case e: Throwable => (500, s"""{"error":${quote(e.toString)}}""") }
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }

    private def route(path: String, p: Map[String, String]): String = path match {
      case "/bench/memory" =>
        // heap in use after a full collection (System.gc is a full GC on
        // G1). Spark's ContextCleaner frees broadcast and shuffle state on
        // its own thread only after a GC finds it unreachable, so collect
        // until the figure stops falling.
        def usedAfterGc() = {
          System.gc()
          Thread.sleep(300)
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        }
        var (prev, used) = (Long.MaxValue, usedAfterGc())
        var rounds = 1
        while (used < prev - (1L << 20) && rounds < 10) {
          prev = used
          used = math.min(used, usedAfterGc())
          rounds += 1
        }
        val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum
        s"""{"heap_live_mb":${used / 1048576.0},"gc_ms":$gcMs}"""

      case "/bench/ingest/start" =>
        val ing = new Ingest(spark, dir, s"$work/checkpoint",
          Ingest.readLog(p("log")), listener.isDefined, p("probe"))
        ingest = Some(ing)
        ing.start()
        ing.status

      case "/bench/ingest/status" => ingest.get.status

      case "/bench/ingest/result" =>
        val ing = ingest.get
        ing.join()
        ing.error.foreach(e => throw e)
        val jobs = listener.map { l =>
          org.apache.spark.BenchBus.drain(spark.sparkContext)
          val ks = l.byKey.asScala.filter(_._1.startsWith("ingest-"))
          ks.values.map(_.jobs.get).sum.toDouble / math.max(1, ks.size)
        }.getOrElse(0.0)
        val commits = ing.commitMs.toSeq
        s"""{"served_ids":${ing.servedIds().mkString("[", ",", "]")},""" +
          s""""changes":${ing.nChanges},"write_s":${ing.writeSeconds},""" +
          s""""commit_ms":${commits.mkString("[", ",", "]")},""" +
          s""""ingest.trigger_ms":${num(Trace.median(ing.triggerMs))},""" +
          s""""ingest.jobs_per_batch":$jobs,""" +
          s""""ingest.bytes_written_per_doc":${ing.bytesWritten.toDouble / ing.nChanges},""" +
          s""""segstore.fan_in_max":${ing.fanInMax},""" +
          s""""grown.first_read_ms":${num(Trace.median(ing.firstReadMs.toSeq))},""" +
          s""""grown.warm_read_ms":${num(Trace.median(ing.warmReadMs.toSeq))}}"""

      case "/bench/trace/req" =>
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p("req"))
        val r = Req(n.get("route").asText, n.get("path").asText,
          n.get("params").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
        val (plainMs, tracedMs) = replay.one(p("i").toInt, r, p("first") == "traced")
        s"""{"plain_ms":$plainMs,"traced_ms":$tracedMs}"""

      case "/bench/trace/result" =>
        val (metrics, self) = replay.result()
        val spanJson = self.map { case (s, selfMs) =>
          s"""{"req":${s.req},"name":${quote(s.name)},"parent":${s.parent},""" +
            s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":$selfMs}"""
        }.mkString("[", ",", "]")
        val m = metrics.map { case (k, v) => s"${quote(k)}:${num(v)}" }.mkString(",")
        s"""{"metrics":{$m},"spans":$spanJson}"""
    }
  }
}
