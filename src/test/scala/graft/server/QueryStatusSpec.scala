package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.Executors
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.kql.Catalog

/** The query-status event log: transitions are file appends that fire no
  * Spark job, concurrent lifecycles lose nothing, a torn line is skipped
  * by the fold, and query ids stay unique across server restarts.
  */
class QueryStatusSpec extends AnyFunSuite {
  import TestSpark.{jobsFiredBy, spark}

  private def tmp(): String =
    Files.createTempDirectory("graft_status").resolve("log").toString

  private def logFiles(dir: String): Seq[Path] =
    Files.list(Path.of(dir)).iterator.asScala
      .filter(_.toString.endsWith(".jsonl")).toSeq

  private def logLines(dir: String): Seq[String] =
    logFiles(dir).flatMap(f => Files.readAllLines(f, UTF_8).asScala)

  private def lifecycle(w: QueryStatusWriter, id: String): Unit = {
    val h = w.start(id, s"events | where id == '$id' | count")
    h.update("running")
    h.finish("success")
  }

  private def statuses(dir: String): Map[String, String] =
    QueryStatus.read(spark, dir).collect().map(r =>
      r.getAs[String](QueryStatus.QueryIdField) ->
        r.getAs[String](QueryStatus.StatusField)).toMap

  test("a transition fires no Spark job and appends one record, after 1,000 prior queries") {
    val dir = tmp()
    val writer = new QueryStatusWriter(spark, dir)
    (1 to 1000).foreach(i => lifecycle(writer, s"prior-$i"))
    val before = logLines(dir).size
    assert(before == 3000)
    val jobs = jobsFiredBy(lifecycle(writer, "next"))
    assert(jobs == 0)
    assert(logLines(dir).size == before + 3)
    val st = statuses(dir)
    assert(st.size == 1001)
    assert(st("next") == "success")
  }

  test("16 concurrent lifecycles through one writer: none lost, no torn lines") {
    val dir = tmp()
    val writer = new QueryStatusWriter(spark, dir)
    val pool = Executors.newFixedThreadPool(16)
    try {
      (0 until 16).map(i => pool.submit(new Runnable {
        def run(): Unit = lifecycle(writer, s"q-$i")
      })).foreach(_.get())
    } finally pool.shutdown()
    val mapper = new ObjectMapper()
    val lines = logLines(dir)
    assert(lines.size == 48)
    // every line is a whole record: the writer never interleaves lines
    lines.foreach(l => assert(mapper.readTree(l).get(QueryStatus.QueryIdField) != null))
    assert(statuses(dir) == (0 until 16).map(i => s"q-$i" -> "success").toMap)
  }

  test("the fold skips a torn line and files that are not *.jsonl") {
    val dir = tmp()
    val writer = new QueryStatusWriter(spark, dir)
    lifecycle(writer, "done")
    writer.start("mid", "events | count").update("running")
    // a half-written tail, as a reader sees while another process appends
    // the record that would finish "mid": every field is there, but the
    // sequence number is cut short (66 -> 6) and the brace is missing
    val torn = """{"query_id":"mid","query":"events | count","status":"success",""" +
      """"start_time":1,"end_time":2,"run_time_seconds":0.001,"error":null,"seq":6"""
    Files.writeString(logFiles(dir).head, torn, UTF_8, StandardOpenOption.APPEND)
    Files.writeString(Path.of(dir, "notes.txt"), "not a status log\n", UTF_8)
    assert(statuses(dir) == Map("done" -> "success", "mid" -> "running"))
    // a later writer appends to its own file; the torn one stays readable
    lifecycle(new QueryStatusWriter(spark, dir), "after")
    assert(statuses(dir) == Map("done" -> "success", "mid" -> "running", "after" -> "success"))
  }

  test("the fold of a missing or empty directory is empty, with the status columns") {
    val missing = tmp()
    val df = QueryStatus.read(spark, missing)
    assert(df.columns.toSeq == QueryStatus.schema.fieldNames.toSeq)
    assert(df.count() == 0)
    new QueryStatusWriter(spark, missing) // creates the directory, writes nothing
    assert(QueryStatus.read(spark, missing).count() == 0)
  }

  test("query ids of two server processes are disjoint") {
    val dir = tmp()
    // each QueryIds stands for one server process's id source; before the
    // per-process token both would have issued graft-query-1, -2, -3 and
    // the restarted server's records would have merged into the first's
    val (first, second) = (new QueryIds, new QueryIds)
    val a = Seq.fill(3)(first.next())
    val b = Seq.fill(3)(second.next())
    assert(a.toSet.intersect(b.toSet).isEmpty)
    val (wa, wb) = (new QueryStatusWriter(spark, dir), new QueryStatusWriter(spark, dir))
    a.foreach(lifecycle(wa, _))
    b.foreach(lifecycle(wb, _))
    assert(statuses(dir).keySet == (a ++ b).toSet)
  }

  test("the server logs each query under its process-unique id") {
    val dir = tmp()
    val srv = QueryServer.start(spark, Catalog.forTestData(spark, TestSpark.sf),
      statusDir = Some(dir))
    try {
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${srv.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString("events | count")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
    } finally srv.stop()
    val ids = statuses(dir).keys.toSeq
    assert(ids.size == 1)
    assert(ids.head.matches(s"graft-query-${QueryServer.ids.token}-[0-9]+"))
  }
}
