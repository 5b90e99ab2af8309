package perfbench

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.Tables
import graft.kql.{Catalog, Compiler, Kql}
import graft.server.{QueryServer, QueryStatusWriter}
import Harness.{Conf, closedLoop, drain}

/** `interactive`: closed-loop HTTP clients against an in-process
  * [[QueryServer]] with query-status tracking on.
  *
  * Untraced, one closed-loop phase is measured. Traced, three phases run
  * on the same request stream: the untraced phase again (the baseline for
  * the tracing overhead), a phase with the streaming listener on, and an
  * in-process replay of that phase's batch requests with the same
  * concurrency, through the public calls the server makes, timed per
  * layer.
  */
object HttpWorkload {
  private val mapper = new ObjectMapper()

  def run(spark: SparkSession, conf: Conf, jobs: JobRecorder): Map[String, Any] = {
    val clients = math.min(conf.cpus, 4)
    val reqs = Harness.readRequests(conf.runDir.resolve("requests.jsonl"))
    val warm = Harness.readRequests(conf.runDir.resolve("warmup.jsonl"))

    // run.py laid a copy of events out as several part files here, so the
    // partial path has micro-batches to refine over
    val streamDir = conf.runDir.resolve("stream")

    def catalog(): Catalog = {
      val cat = Catalog.forTestData(spark, conf.dataDir)
      Seq("events", "test.events").foreach(n =>
        cat.registerStream(n, Tables.loadStream(spark, streamDir.toString, "events")))
      cat
    }
    def server(cat: Catalog, status: String): QueryServer =
      QueryServer.start(spark, cat, statusDir = Some(conf.runDir.resolve(status).toString))

    // catalog and server bind: the cheap part, repeated for a median
    val (roundS, cat) = Harness.setupTimed { r =>
      val c = catalog()
      server(c, s"status-bind-$r").stop()
      c
    }
    // warm-up: one cycle of every request kind, status tracking off so the
    // requests do not queue on the status lock
    val tw = Clock.ms
    val warmSrv = QueryServer.start(spark, cat)
    val warmErrors =
      try closedLoop(warm, clients, Double.MaxValue)(Http.post(warmSrv.boundPort, _))
        .filterNot(_.ok).map(o => s"${o.req.body}: ${o.error}")
      finally warmSrv.stop()
    require(warmErrors.isEmpty, s"warm-up failed: ${warmErrors.mkString("; ")}")
    // and one query's status lifecycle, to warm the status write path
    val warmStatus = new QueryStatusWriter(spark, conf.runDir.resolve("status-warm").toString)
      .start("warm-up", "warm-up")
    warmStatus.update("running")
    warmStatus.finish("success")
    val srv = server(cat, "status")
    val warmS = (Clock.ms - tw) / 1000.0

    val u = phase(spark, conf, srv.boundPort, reqs, clients)
    srv.stop()
    val base = Map[String, Any](
      "workload_setup_s" -> (roundS + warmS),
      "setup_parts" -> Map("bind_s" -> roundS, "warmup_s" -> warmS),
      "phase" -> u.record,
      "ops" -> u.outcomes.map(_.record))
    Files.writeString(conf.out("rows.jsonl"), Harness.keptRows(u.outcomes), UTF_8)
    if (!conf.trace) base
    else {
      val streams = new StreamRecorder
      spark.streams.addListener(streams)
      val tsrv = server(cat, "status-traced")
      val t = phase(spark, conf, tsrv.boundPort, reqs, clients)
      tsrv.stop()
      spark.streams.removeListener(streams)
      val tracedStatus = conf.runDir.resolve("status-traced")
      val statusBytes = Harness.dirBytes(tracedStatus)
      val replayed = replay(spark, cat, conf, jobs, t.outcomes, clients, tracedStatus)
      base ++ Map(
        "traced_phase" -> t.record,
        "traced_ops" -> t.outcomes.map(_.record),
        "replay" -> replayed,
        "stream_batches" -> streams.batches.get,
        "stream_batch_ms" -> streams.batchMs.get,
        "status_bytes" -> statusBytes)
    }
  }

  final class Phase(val outcomes: Seq[Outcome], val record: Map[String, Any])

  private def phase(
      spark: SparkSession, conf: Conf, port: Int,
      reqs: IndexedSeq[Request], clients: Int): Phase = {
    val cpu0 = Jvm.cpuNs
    val gc0 = Jvm.gcMs
    val outcomes = closedLoop(reqs, clients, conf.seconds)(Http.post(port, _))
    val cpu = (Jvm.cpuNs - cpu0) / 1e9
    val gc = (Jvm.gcMs - gc0) / 1000.0
    val start = outcomes.map(_.sendMs).min
    val end = outcomes.map(o => o.sendMs + o.latencyMs).max
    new Phase(outcomes, Map(
      "window_s" -> (end - start) / 1000.0,
      "cpu_s" -> cpu,
      "gc_s" -> gc,
      "heap_after_gc_mb" -> Jvm.heapAfterGcMb,
      "retained_block_mb" -> Harness.retainedBlockMb(spark),
      "leaked_tmp_files" -> Harness.tmpEntries(conf)))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def phaseMs(df: Dataset[_], phase: String): Double =
    df.queryExecution.tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  /** Replays each completed batch request of the traced phase in-process,
    * making the calls `QueryServer` makes for it, and splits its time by
    * layer. Partial-stream requests are not replayed: the partial path is
    * private to the server, so it is measured from the HTTP phase through
    * the streaming listener instead. */
  private def replay(
      spark: SparkSession, cat: Catalog, conf: Conf, jobs: JobRecorder,
      traced: Seq[Outcome], clients: Int, statusDir: Path): Map[String, Any] = {
    val writer = new QueryStatusWriter(spark, statusDir.toString)
    val batch = traced.filter(o => o.ok && o.req.kind != "partial").map(_.req).toIndexedSeq
    val httpMs = traced.map(o => o.req.i -> o.latencyMs).toMap
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    val layers = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val sc = spark.sparkContext
    closedLoop(batch, clients, Double.MaxValue) { r =>
      val o = new Outcome(r)
      val g = s"perfbench-replay-${r.i}"
      val kql = mapper.readTree(r.body).get("query").asText()
      var statusMs = 0.0
      def status[A](f: => A): A = { val a = Clock.ms; try f finally statusMs += Clock.ms - a }
      val t0 = Clock.ms
      val parsed = Kql.parse(kql)
      val t1 = Clock.ms
      val handle = status(writer.start(g, kql))
      sc.setJobGroup(g + "-compile", "perfbench replay", interruptOnCancel = false)
      status(handle.update("running"))
      val compiler = new Compiler(spark, cat, parsed.lets, materializedLets = parsed.materialized)
      val c0 = Clock.ms
      val df = compiler.compile(parsed.query)
      compiler.runWrites()
      val c1 = Clock.ms
      sc.setJobGroup(g + "-exec", "perfbench replay", interruptOnCancel = false)
      val json = df.toJSON
      val p0 = Clock.ms
      val plan = json.queryExecution.executedPlan
      val p1 = Clock.ms
      // the SSE socket stand-in: frames are formatted and written, then dropped
      val sink = OutputStream.nullOutputStream()
      var emitNs = 0L
      val it = json.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val e0 = System.nanoTime()
        sink.write(s"data: $row\n\n".getBytes(UTF_8))
        sink.flush()
        emitNs += System.nanoTime() - e0
      }
      sink.write("event: done\ndata: \n\n".getBytes(UTF_8))
      val x1 = Clock.ms
      compiler.releaseMaterialized()
      status(handle.finish("success"))
      sc.clearJobGroup()
      val t2 = Clock.ms
      o.latencyMs = t2 - t0
      spans.add(Span(r.i, "kql.parse", t0, t1))
      spans.add(Span(r.i, "kql.compile", c0, c1))
      spans.add(Span(r.i, "catalyst.plan", p0, p1))
      spans.add(Span(r.i, "server.drain", p1, x1))
      layers.add(Map(
        "i" -> r.i, "c0" -> c0, "c1" -> c1, "p1" -> p1, "x1" -> x1,
        "plan_exchanges" -> Plans.collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size,
        "kql.parse_s" -> (t1 - t0) / 1000.0,
        "compile_ms" -> (c1 - c0),
        "analysis_ms" -> (phaseMs(df, QueryPlanningTracker.ANALYSIS) +
          phaseMs(json, QueryPlanningTracker.ANALYSIS)),
        "catalyst.optimization_s" -> phaseMs(json, QueryPlanningTracker.OPTIMIZATION) / 1000.0,
        "catalyst.planning_s" -> phaseMs(json, QueryPlanningTracker.PLANNING) / 1000.0,
        "server.emit_s" -> emitNs / 1e9,
        "server.status_write_s" -> statusMs / 1000.0,
        "latency_ms" -> o.latencyMs,
        "http_latency_ms" -> httpMs(r.i)))
      o
    }
    drain(spark)
    // job-derived layers need every listener event delivered first
    val perOp = layers.toArray(Array.empty[Map[String, Any]]).toSeq.map { m =>
      val i = m("i").asInstanceOf[Int]
      val g = s"perfbench-replay-$i"
      def d(k: String) = m(k).asInstanceOf[Double]
      val compileBusy = jobs.busyMs(g + "-compile", d("c0"), d("c1"))
      val execBusy = jobs.busyMs(g + "-exec", d("p1"), d("x1"))
      val emitMs = d("server.emit_s") * 1000.0
      jobs.jobsOf(g + "-compile").foreach(j => spans.add(Span(i, "exec.job", j.start, j.end)))
      jobs.jobsOf(g + "-exec").foreach(j => spans.add(Span(i, "exec.job", j.start, j.end)))
      val counts = jobs.execCounts(Seq(g + "-compile", g + "-exec"))
      val layered = Map(
        "kql.parse_s" -> d("kql.parse_s"),
        "kql.compile_s" -> math.max(0.0, d("compile_ms") - compileBusy - d("analysis_ms")) / 1000.0,
        "kql.compile_jobs" -> jobs.jobsOf(g + "-compile").size.toDouble,
        "catalyst.analysis_s" -> d("analysis_ms") / 1000.0,
        "catalyst.optimization_s" -> d("catalyst.optimization_s"),
        "catalyst.planning_s" -> d("catalyst.planning_s"),
        "catalyst.exchanges" -> m("plan_exchanges").asInstanceOf[Int].toDouble,
        "exec.busy_s" -> (compileBusy + execBusy) / 1000.0,
        "exec.driver_gap_s" ->
          math.max(0.0, d("x1") - d("p1") - execBusy - emitMs) / 1000.0,
        "server.emit_s" -> d("server.emit_s"),
        "server.status_write_s" -> d("server.status_write_s")) ++ counts
      val attributed = Seq("kql.parse_s", "kql.compile_s", "catalyst.analysis_s",
        "catalyst.optimization_s", "catalyst.planning_s", "exec.busy_s",
        "exec.driver_gap_s", "server.emit_s", "server.status_write_s").map(layered(_)).sum
      layered ++ Map(
        "i" -> i,
        "latency_s" -> d("latency_ms") / 1000.0,
        "http_latency_s" -> d("http_latency_ms") / 1000.0,
        "trace.unattributed_s" -> math.max(0.0, d("latency_ms") / 1000.0 - attributed))
    }
    Harness.writeSpans(conf, spans.toArray(Array.empty[Span]))
    Map("ops" -> perOp.sortBy(_("i").asInstanceOf[Int]))
  }
}
