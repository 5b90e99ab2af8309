package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Benchmark process: one JVM holding the engine and the load generator.
  *
  * `perfbench/run.py` generates every input from the seed into the run
  * directory (request streams, the pipeline operation order), starts this
  * main, and checks what it reports. This side only executes and measures:
  * it writes raw per-operation records to `out/result.json`, which run.py
  * turns into metrics.
  *
  * Usage: `perfbench.Harness <workload> <run-dir> <data-dir> <cpus> <seconds> <trace 0|1>`
  * or `perfbench.Harness selftest`.
  */
object Harness {
  /** Setup repetitions; setup_s takes their median (see [[setupTimed]]). */
  val SetupRounds = 3

  final case class Conf(
      workload: String, runDir: Path, dataDir: String, cpus: Int,
      seconds: Int, trace: Boolean) {
    def out(name: String): Path = runDir.resolve("out").resolve(name)
    def tmpDir: File = new File(System.getProperty("java.io.tmpdir"))
  }

  /** Halts the JVM either way once the result is written: Spark and server
    * threads would keep a failed run alive, and an orderly Spark shutdown
    * only deletes scratch that run.py deletes anyway. */
  def main(args: Array[String]): Unit = {
    val code =
      try { measure(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def measure(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) { SelfTest.run(); return }
    require(args.length == 6, "usage: Harness <workload> <run-dir> <data-dir> <cpus> <seconds> <trace>")
    val conf = Conf(args(0), Paths.get(args(1)), args(2), args(3).toInt, args(4).toInt, args(5) == "1")
    Files.createDirectories(conf.runDir.resolve("out"))
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", conf.runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis() - Jvm.startMs
    val jobs = new JobRecorder
    spark.sparkContext.addSparkListener(jobs)
    val result = conf.workload match {
      case "interactive" => HttpWorkload.run(spark, conf, jobs)
      case "pipeline" => PipelineWorkload.run(spark, conf, jobs)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val full = Map("session_ready_s" -> sessionReadyMs / 1000.0) ++ result
    Files.writeString(conf.out("result.json"), Emit.json(full), UTF_8)
  }

  /** Runs `round` [[SetupRounds]] times and returns the median duration in
    * seconds with the last round's value; the caller adds the one-time
    * parts (JVM and session start) that cannot be repeated in-process. */
  def setupTimed[A](round: Int => A): (Double, A) = {
    var last: Option[A] = None
    val times = (1 to SetupRounds).map { r =>
      val t = Clock.ms
      last = Some(round(r))
      (Clock.ms - t) / 1000.0
    }.sorted
    (times(times.size / 2), last.get)
  }

  def readLines(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.filter(_.nonEmpty)

  private val mapper = new ObjectMapper()

  def readRequests(p: Path): IndexedSeq[Request] =
    readLines(p).map { l =>
      val n = mapper.readTree(l)
      Request(n.get("i").asInt, n.get("cycle").asInt, n.get("kind").asText,
        n.get("body").asText, n.get("check").asText, n.get("ordered").asBoolean)
    }.toIndexedSeq

  /** Entries left in this run's private java.io.tmpdir. */
  def tmpEntries(conf: Conf): Int = Option(conf.tmpDir.list()).map(_.length).getOrElse(0)

  def retainedBlockMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** A closed loop: `clients` threads each send their next request only
    * after the previous one completed. Once `seconds` have passed no new
    * cycle starts (see `Request.cycle`); the cycle in progress completes,
    * so every run holds whole cycles. */
  def closedLoop(
      reqs: IndexedSeq[Request], clients: Int, seconds: Double)(
      send: Request => Outcome): Seq[Outcome] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]()
    val deadline = Clock.ms + seconds * 1000.0
    val lock = new Object
    var next = 0
    var closed = false
    def take(): Option[Request] = lock.synchronized {
      if (!closed && next < reqs.size && Clock.ms >= deadline &&
          (next == 0 || reqs(next).cycle != reqs(next - 1).cycle)) closed = true
      if (closed || next >= reqs.size) None
      else { next += 1; Some(reqs(next - 1)) }
    }
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var r = take()
        while (r.isDefined) {
          done.add(send(r.get))
          r = take()
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    require(seconds == Double.MaxValue || closed,
      s"request stream exhausted after ${reqs.size} requests; generate more")
    done.asScala.toSeq.sortBy(_.req.i)
  }

  def drain(spark: SparkSession): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def keptRows(outcomes: Seq[Outcome]): String =
    outcomes.filter(_.kept.nonEmpty).map(o =>
      Emit.json(Map("i" -> o.req.i, "rows" -> o.kept.toSeq))).mkString("", "\n", "\n")

  def writeSpans(conf: Conf, spans: Iterable[Span]): Unit =
    Files.writeString(conf.out("spans.jsonl"), spans.map(s => Emit.json(Map(
      "op" -> s.op, "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end)))
      .mkString("", "\n", "\n"), UTF_8)
}
