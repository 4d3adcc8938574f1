package servebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.search.SearchEngine
import graft.serve.Api

/** Spark work attributed to one key: a request's job tag, or a streaming
  * micro-batch. */
final class SparkWork {
  val jobs, stages, tasks, runMs, cpuNs, inputBytes, shuffleBytes, gcMs =
    new AtomicLong()
}

/** Attributes jobs, stages and task metrics to the key of the job that ran
  * them: the `bench-` job tag a traced request sets on its calling thread,
  * or `ingest-<batchId>` for jobs of a streaming micro-batch. */
final class WorkListener extends SparkListener {
  val byKey = new ConcurrentHashMap[String, SparkWork]()
  private val stageKey = new ConcurrentHashMap[Int, String]()

  private def work(key: String) = byKey.computeIfAbsent(key, _ => new SparkWork)

  private def keyOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap { props =>
      Option(props.getProperty("spark.job.tags")).toSeq
        .flatMap(_.split(",")).find(_.startsWith("bench-"))
        .orElse(Option(props.getProperty("streaming.sql.batchId"))
          .filter(_ => props.getProperty("sql.streaming.queryId") != null)
          .map(b => s"ingest-$b"))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    keyOf(e.properties).foreach { k =>
      work(k).jobs.incrementAndGet()
      e.stageIds.foreach(stageKey.put(_, k))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageKey.get(e.stageInfo.stageId))
      .foreach(work(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (k <- Option(stageKey.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val w = work(k)
      w.tasks.incrementAndGet()
      w.runMs.addAndGet(m.executorRunTime)
      w.cpuNs.addAndGet(m.executorCpuTime)
      w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      w.shuffleBytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      w.gcMs.addAndGet(m.jvmGCTime)
    }
}

/** One timed interval of one request; `parent` is an index into the same
  * request's span list (-1 for the root). */
final case class Span(req: Long, name: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-thread span recorder: spans stay in memory until the run ends. */
final class Spans {
  val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial(() => List.empty[Int])
  private val local = ThreadLocal.withInitial(() => ArrayBuffer.empty[Span])

  def span[T](req: Long, name: String)(body: => T): T = {
    val buf = local.get()
    val idx = buf.length
    buf += Span(req, name, stack.get().headOption.getOrElse(-1), System.nanoTime(), 0L)
    stack.set(idx :: stack.get())
    try body
    finally {
      buf(idx) = buf(idx).copy(endNs = System.nanoTime())
      stack.set(stack.get().tail)
      if (stack.get().isEmpty) { buf.foreach(all.add); buf.clear() }
    }
  }

  /** Self time of every span: its duration minus the time its children
    * cover (children of one span run sequentially on its thread). */
  def selfMs: Seq[(Span, Double)] = {
    val byReq = all.asScala.toSeq.groupBy(_.req)
    byReq.values.toSeq.flatMap { ss =>
      ss.zipWithIndex.map { case (s, i) =>
        s -> (s.ms - ss.filter(_.parent == i).map(_.ms).sum)
      }
    }
  }
}

/** A request of the workload's stream, as the load generator sends it. */
final case class Req(route: String, path: String, params: Map[String, String])

object Trace {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The plan a route builds and the execution Api.handle then runs on it,
    * through the same public functions Api.handle dispatches to. */
  def planFor(spark: SparkSession, dir: String, r: Req): () => Array[String] = {
    val p = r.params
    val k = p.getOrElse("count", "10").toInt
    val df = r.route match {
      case "dense" | "sparse" | "hybrid" => Api.search(spark, dir, p("q"), r.route, k)
      case "fusion" => Api.fusionSearch(spark, dir, p("q"), k)
      case "filtered" => Api.filteredSearch(
        spark, dir, p("q"), p("filter_field"), p("filter_value"), k)
      case "grown" => SearchEngine.graphSearchGrown(spark, dir, p("q"), k)
    }
    () => df.limit(Int.MaxValue).toJSON.collect()
  }
}

/** In-process replay of the workload's stream, one request per call, so
  * the load generator can pair each request's HTTP call with it. Each
  * request runs twice: once through [[Api.handle]] untraced, and once
  * through the traced plan/execute split, in the order the caller gives. */
final class Replay(spark: SparkSession, dir: String, listener: WorkListener) {
  private val sc = spark.sparkContext
  private val spans = new Spans
  private val done = new ConcurrentHashMap[Int, (Req, Double, Double)]()

  /** Runs request `i`; returns its untraced and traced times in ms. */
  def one(i: Int, r: Req, tracedFirst: Boolean): (Double, Double) = {
    def plain(): Double = {
      val t0 = System.nanoTime()
      val resp = Api.handle(spark, dir, r.path, r.params)
      require(resp.status == 200, s"${r.path} -> ${resp.status}: ${resp.body}")
      (System.nanoTime() - t0) / 1e6
    }
    def traced(): Double = {
      val tag = s"bench-$i"
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try spans.span(i, s"api.handle.${r.route}") {
        val exec = spans.span(i, s"search.plan.${r.route}")(Trace.planFor(spark, dir, r))
        val rows = spans.span(i, s"search.exec.${r.route}")(exec())
        spans.span(i, "api.render")(rows.mkString("[", ",", "]").length)
      } finally sc.removeJobTag(tag)
      (System.nanoTime() - t0) / 1e6
    }
    val (p, t) =
      if (tracedFirst) { val t = traced(); (plain(), t) }
      else { val p = plain(); (p, traced()) }
    done.put(i, (r, p, t))
    (p, t)
  }

  /** The per-layer figures over every request replayed so far, and every
    * span with its self time. */
  def result(): (Map[String, Double], Seq[(Span, Double)]) = {
    org.apache.spark.BenchBus.drain(sc)
    val reqs = done.asScala.toSeq
    val self = spans.selfMs
    def ms(name: String) = self.collect { case (s, _) if s.name == name => s.ms }
    def work(i: Int) = Option(listener.byKey.get(s"bench-$i")).getOrElse(new SparkWork)
    val out = Map.newBuilder[String, Double]
    reqs.groupBy(_._2._1.route).foreach { case (rt, rs) =>
      out += s"api.handle_ms.$rt" -> Trace.median(rs.map(_._2._2))
      out += s"search.plan_ms.$rt" -> Trace.median(ms(s"search.plan.$rt"))
      out += s"search.exec_ms.$rt" -> Trace.median(ms(s"search.exec.$rt"))
      out += s"spark.jobs_per_req.$rt" -> rs.map(r => work(r._1).jobs.get).sum.toDouble / rs.size
    }
    def perReq(f: SparkWork => Long, scale: Double = 1.0) =
      reqs.map(r => f(work(r._1))).sum / scale / reqs.size
    out += "spark.jobs_per_req" -> perReq(_.jobs.get)
    out += "spark.stages_per_req" -> perReq(_.stages.get)
    out += "spark.tasks_per_req" -> perReq(_.tasks.get)
    out += "spark.exec_run_ms_per_req" -> perReq(_.runMs.get)
    out += "spark.exec_cpu_ms_per_req" -> perReq(_.cpuNs.get, 1e6)
    out += "spark.input_bytes_per_req" -> perReq(_.inputBytes.get)
    out += "spark.shuffle_bytes_per_req" -> perReq(_.shuffleBytes.get)
    out += "spark.gc_ms_per_req" -> perReq(_.gcMs.get)
    // paired: each request's traced time against its own untraced time
    out += "trace.overhead_pct" -> 100.0 * Trace.median(
      reqs.map { case (_, (_, p, t)) => (t - p) / p })
    (out.result(), self)
  }
}
