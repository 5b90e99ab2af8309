package perfbench

import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry
import Harness.{Conf, drain}

/** `pipeline`: registry `pl_*`/`q_*` queries, one at a time, each built
  * and run to the noop sink on a fresh `spark.newSession()`, so no query
  * reuses state an earlier one built in its session. The order comes from
  * `ops.txt` (pass number and query name per line); a run ends at the first
  * pass boundary after `seconds`.
  *
  * Before timing, each query runs once collected and digested, for run.py
  * to compare with the recorded digest; that pass is also the warm-up.
  */
object PipelineWorkload {
  private object Plans extends AdaptiveSparkPlanHelper

  /** Keeps the last successful query execution of one session. */
  private final class LastExecution extends QueryExecutionListener {
    val last = new AtomicReference[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      last.set(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def run(spark: SparkSession, conf: Conf, jobs: JobRecorder): Map[String, Any] = {
    val registry = SparkEntry.queries
    val ops = Harness.readLines(conf.runDir.resolve("ops.txt")).map { l =>
      val Array(pass, name) = l.split(" ")
      require(registry.contains(name), s"no registry query '$name'")
      (pass.toInt, name)
    }
    // warm-up and output check in one: each query once, on a fresh
    // session, collected and digested; the timed pass then runs on a warm
    // JVM, but still builds everything in fresh sessions
    val tw = Clock.ms
    val digests = ops.map(_._2).distinct.map { name =>
      spark.sparkContext.setJobGroup("perfbench-check", "perfbench", interruptOnCancel = false)
      try name -> digest(registry(name)(spark.newSession(), conf.dataDir).collect())
      catch { case e: Exception => name -> s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      finally spark.sparkContext.clearJobGroup()
    }.toMap
    val warmS = (Clock.ms - tw) / 1000.0
    val (uOps, uPhase) = phase(spark, conf, jobs, ops, traced = false, digests)
    val base = Map[String, Any](
      "workload_setup_s" -> warmS,
      "setup_parts" -> Map("warmup_and_check_s" -> warmS),
      "phase" -> uPhase,
      "ops" -> uOps,
      "digests" -> digests)
    if (!conf.trace) base
    else {
      val (tOps, tPhase) = phase(spark, conf, jobs, ops, traced = true, digests)
      Harness.writeSpans(conf, tOps.flatMap { o =>
        val i = o("i").asInstanceOf[Int]
        val Seq(t0, t1, t2) = Seq("t0", "t1", "t2").map(o(_).asInstanceOf[Double])
        Seq(Span(i, "pipeline.build", t0, t1), Span(i, "pipeline.exec", t1, t2)) ++
          Seq("-build", "-exec").flatMap(g => jobs.jobsOf(s"perfbench-t-$i$g"))
            .map(j => Span(i, "exec.job", j.start, j.end))
      })
      base ++ Map("traced_phase" -> tPhase, "traced_ops" -> tOps)
    }
  }

  private def phase(
      spark: SparkSession, conf: Conf, jobs: JobRecorder, ops: Seq[(Int, String)],
      traced: Boolean, digests: Map[String, String])
      : (Seq[Map[String, Any]], Map[String, Any]) = {
    val registry = SparkEntry.queries
    val sc = spark.sparkContext
    val tag = if (traced) "t" else "u"
    val records = ArrayBuffer.empty[Map[String, Any]]
    val cpu0 = Jvm.cpuNs
    val gc0 = Jvm.gcMs
    val start = Clock.ms
    val deadline = start + conf.seconds * 1000.0
    var lastPass = -1
    val it = ops.iterator.zipWithIndex
    var stop = false
    while (!stop && it.hasNext) {
      val ((pass, name), i) = it.next()
      if (pass != lastPass && Clock.ms >= deadline) stop = true
      else {
        lastPass = pass
        val g = s"perfbench-$tag-$i"
        val session = spark.newSession()
        val qe = new LastExecution
        if (traced) session.listenerManager.register(qe)
        val persisted0 = sc.getPersistentRDDs.size
        val tmp0 = Harness.tmpEntries(conf)
        var error: Option[String] = None
        var df: DataFrame = null
        val t0 = Clock.ms
        var t1 = t0
        try {
          sc.setJobGroup(g + "-build", "perfbench", interruptOnCancel = false)
          df = registry(name)(session, conf.dataDir)
          t1 = Clock.ms
          sc.setJobGroup(g + "-exec", "perfbench", interruptOnCancel = false)
          df.write.format("noop").mode("overwrite").save()
        } catch {
          case e: Exception =>
            error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
        } finally sc.clearJobGroup()
        val t2 = Clock.ms
        drain(spark)
        val rec = Map[String, Any](
          "i" -> i, "pass" -> pass, "name" -> name, "ok" -> error.isEmpty, "error" -> error,
          "t0" -> t0, "t1" -> t1, "t2" -> t2,
          "latency_ms" -> (t2 - t0), "build_ms" -> (t1 - t0), "exec_ms" -> (t2 - t1),
          "first_row_ms" -> jobs.firstResultMs(g + "-exec", t0).getOrElse(Double.NaN),
          "rows" -> digests(name).takeWhile(_ != ':').toLongOption.getOrElse(0L))
        records += (if (!traced) rec else rec ++ layers(
          jobs, qe, df, g, t0, t1, t2,
          sc.getPersistentRDDs.size - persisted0, Harness.tmpEntries(conf) - tmp0))
      }
    }
    (records.toSeq, Map(
      "window_s" -> (Clock.ms - start) / 1000.0,
      "cpu_s" -> (Jvm.cpuNs - cpu0) / 1e9,
      "gc_s" -> (Jvm.gcMs - gc0) / 1000.0,
      "heap_after_gc_mb" -> Jvm.heapAfterGcMb,
      "retained_block_mb" -> Harness.retainedBlockMb(spark),
      "leaked_tmp_files" -> Harness.tmpEntries(conf)))
  }

  private def layers(
      jobs: JobRecorder, qe: LastExecution, df: DataFrame, g: String,
      t0: Double, t1: Double, t2: Double, persisted: Int, tmp: Int): Map[String, Any] = {
    val exec = Option(qe.last.get())
    def phaseS(q: Option[QueryExecution], p: String): Double =
      q.flatMap(_.tracker.phases.get(p)).map(_.durationMs / 1000.0).getOrElse(0.0)
    val buildAnalysis = phaseS(Option(df).map(_.queryExecution), QueryPlanningTracker.ANALYSIS)
    val buildBusy = jobs.busyMs(g + "-build", t0, t1)
    val execBusy = jobs.busyMs(g + "-exec", t1, t2)
    val catalyst = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).map(phaseS(exec, _)).sum
    Map(
      "pipeline.build_s" -> (t1 - t0) / 1000.0,
      "pipeline.build_jobs" -> jobs.jobsOf(g + "-build").size.toDouble,
      "pipeline.persisted_rdds" -> persisted.toDouble,
      "pipeline.leaked_tmp_files" -> tmp.toDouble,
      "catalyst.analysis_s" -> (buildAnalysis + phaseS(exec, QueryPlanningTracker.ANALYSIS)),
      "catalyst.optimization_s" -> phaseS(exec, QueryPlanningTracker.OPTIMIZATION),
      "catalyst.planning_s" -> phaseS(exec, QueryPlanningTracker.PLANNING),
      "catalyst.exchanges" -> exec.map(q => Plans.collectWithSubqueries(q.executedPlan) {
        case e: ShuffleExchangeLike => e }.size.toDouble).getOrElse(0.0),
      "exec.busy_s" -> (buildBusy + execBusy) / 1000.0,
      // execution wall time with no job running and no planning going on
      "exec.driver_gap_s" -> math.max(0.0, t2 - t1 - execBusy - catalyst * 1000.0) / 1000.0,
      "trace.unattributed_s" ->
        math.max(0.0, t1 - t0 - buildBusy - buildAnalysis * 1000.0) / 1000.0
    ) ++ jobs.execCounts(Seq(g + "-build", g + "-exec"))
  }

  /** `rows:hex` multiset digest of collected rows (see [[Canon]]). */
  def digest(rows: Array[Row]): String = {
    val d = new ResultDigest(ordered = false)
    rows.foreach { r =>
      val fields = r.schema.fieldNames.toSeq.zipWithIndex.flatMap { case (n, k) =>
        Option(r.get(k)).map(v => n -> value(v))
      }
      d.add(Canon.row(fields))
    }
    s"${d.rows}:${d.hex}"
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case x: Double => Canon.double(x, 9)
    case x: Float => Canon.double(x.toDouble, 6)
    case b: Array[Byte] => b.map(x => Integer.toHexString((x & 0xff) | 0x100).substring(1)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${value(k)}:${value(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
}
