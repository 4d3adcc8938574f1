package graft.serve

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.SparkSession

/** Real HTTP transport for [[Api]], on the JDK's built-in
  * `com.sun.net.httpserver` — no dependency beyond Java 17 itself, which
  * is what makes a live server possible in this zero-egress build. The
  * reference is a uvicorn/FastAPI service (`app/main.py:106-160`,
  * `app/api/endpoints/search.py:46-545`); this binds the same routes over
  * the same transport-agnostic dispatch that `ServeApiSpec` drives
  * directly, so every endpoint behaves the same over HTTP by construction.
  *
  * Request model:
  *  - query-string parameters, URL-decoded (`?q=hello%20world&count=5`);
  *  - POST bodies of `application/x-www-form-urlencoded` merge into the
  *    same parameter map (body wins on key collision) — the staged-path
  *    upload contract of `/api/load-data` travels either way;
  *  - responses are `application/json` with [[Api.handle]]'s status.
  *
  * Concurrency: a small fixed pool. Spark sessions are thread-safe for
  * concurrent job submission (each request becomes independent jobs), and
  * local[n] schedules them FIFO — the same serving model as the
  * reference's single shared Qdrant client behind uvicorn workers.
  */
object HttpServe {

  /** Start serving `dir` on `port` (0 = ephemeral; read the bound port
    * off the returned server). Caller owns the server lifecycle. */
  def start(spark: SparkSession, dir: String, port: Int = 0,
            threads: Int = 8): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", new Handler(spark, dir))
    server.setExecutor(Executors.newFixedThreadPool(threads))
    server.start()
    server
  }

  def stop(server: HttpServer): Unit = {
    server.stop(0)
    server.getExecutor match {
      case e: java.util.concurrent.ExecutorService => e.shutdownNow(); ()
      case _ => ()
    }
  }

  private final class Handler(spark: SparkSession, dir: String)
      extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val response =
        try {
          val qs = Option(ex.getRequestURI.getRawQuery).getOrElse("")
          val form =
            if (ex.getRequestMethod == "POST" &&
              Option(ex.getRequestHeaders.getFirst("Content-Type"))
                .exists(_.startsWith("application/x-www-form-urlencoded")))
              new String(ex.getRequestBody.readAllBytes(), UTF_8)
            else ""
          val params = parseParams(qs) ++ parseParams(form)
          Api.handle(spark, dir, ex.getRequestURI.getPath, params)
        } catch {
          // transport-layer failure (bad encoding, unreadable body): the
          // dispatch never ran, so this is the transport's own 400
          case e: Exception =>
            Api.Response(400, s"""{"error":"bad request: ${e.getClass.getSimpleName}"}""")
        }
      val bytes = response.body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(response.status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  /** `k=v&k2=v2` → map, URL-decoding both sides; valueless keys keep "". */
  private[serve] def parseParams(s: String): Map[String, String] =
    s.split('&').iterator.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
        case Array(k) => URLDecoder.decode(k, UTF_8) -> ""
      }
    }.toMap
}

/** Long-running server main:
  *   runMain graft.serve.ServeHttp <sfDir> [port]
  * Binds, prints the URL, serves until killed. */
object ServeHttp {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val spark = graft.SparkEntry.localSession("graft-http")
    val server = HttpServe.start(spark, dir, port)
    println(s"graft serving $dir on http://localhost:${server.getAddress.getPort}")
    Thread.currentThread().join()
  }
}
