package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kql.{Catalog, Kql}
import graft.server.{QueryServer, QueryStatus, QueryStatusWriter}
import graft.sources.Sinks

/** Upsert sink semantics (reference `memory.rs:60-103`) and the
  * query-status lifecycle, which keeps the same one-record-per-key
  * contract through its event log fold — a port of the reference's
  * `tests/query_status.rs`.
  */
class UpsertSinkSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_upsert").resolve("t").toString

  test("upsert replaces rows sharing the key, keeps the rest") {
    val path = tmp()
    Sinks.upsert(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path, "id")
    Sinks.upsert(spark, Seq((2L, "B"), (3L, "c")).toDF("id", "v"), path, "id")
    val got = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("upsert without the primary key column fails like PrimaryKeyNotFound") {
    val e = intercept[IllegalArgumentException] {
      Sinks.upsert(spark, Seq((1L, "a")).toDF("other", "v"), tmp(), "id")
    }
    assert(e.getMessage.contains("primary key 'id' not found"))
  }

  test("upsert collapses duplicate keys within a batch to one row") {
    val path = tmp()
    Sinks.upsert(spark, Seq((1L, "x"), (1L, "y")).toDF("id", "v"), path, "id")
    assert(spark.read.parquet(path).count() == 1)
  }

  test("KQL write to an upsert sink merges by key instead of appending") {
    val path = tmp()
    val cat = Catalog.forTestData(spark, TestSpark.sf)
      .registerUpsertSink("st", path, "event_type")
    val kql = "events | summarize n=count() by event_type | write st"
    Kql.run(spark, cat, kql).count() // write is terminal; count flushes nothing extra
    Kql.run(spark, cat, kql).count()
    // an append sink would hold 10 rows after two runs; upsert holds 5
    assert(spark.read.parquet(path).count() == 5)
  }

  test("concurrent upserts to one path serialize: no lost records") {
    // the server's handler pool can run KQL writes to one upsert sink
    // concurrently; an unsynchronized read-merge-swap loses records
    val path = tmp()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 16).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            Sinks.upsert(spark, Seq((i.toLong, s"v$i")).toDF("id", "v"), path, "id")
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val got = spark.read.parquet(path).select("id").as[Long].collect().sorted
    assert(got.toSeq == (0L until 16L))
  }

  test("query status lifecycle: planning -> running -> success, one record") {
    // port of the reference's tests/query_status.rs
    val path = tmp()
    val writer = new QueryStatusWriter(spark, path)
    def record() = {
      val rows = QueryStatus.read(spark, path).collect()
      assert(rows.length == 1, "a transition should not create duplicate records")
      rows(0)
    }
    val handle = writer.start("q-1", "test.data | count")

    var r = record()
    assert(r.getAs[String](QueryStatus.StatusField) == "planning")
    assert(r.getAs[String](QueryStatus.QueryField) == "test.data | count")
    assert(r.getAs[java.sql.Timestamp](QueryStatus.StartTimeField) != null)
    assert(r.getAs[java.sql.Timestamp](QueryStatus.EndTimeField) == null)

    handle.update("running")
    r = record()
    assert(r.getAs[String](QueryStatus.StatusField) == "running")

    handle.finish("success")
    r = record()
    assert(r.getAs[String](QueryStatus.StatusField) == "success")
    assert(r.getAs[java.sql.Timestamp](QueryStatus.EndTimeField) != null)
    assert(r.getAs[Any](QueryStatus.RunTimeSecondsField) != null)
    assert(r.getAs[String](QueryStatus.ErrorField) == null)
  }

  test("server records per-query status in the status log") {
    val path = tmp()
    val srv = QueryServer.start(spark, Catalog.forTestData(spark, TestSpark.sf),
      statusDir = Some(path))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(body: String) = client.send(
        java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"http://localhost:${srv.boundPort}/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(post("events | count").statusCode() == 200)
      // unknown source fails at compile time, after the status record opens
      assert(post("no_such_table | count").statusCode() == 400)
      val rows = QueryStatus.read(spark, path)
        .orderBy(QueryStatus.QueryIdField).collect()
      assert(rows.length == 2)
      val byQuery = rows.map(r => r.getAs[String](QueryStatus.QueryField) ->
        r.getAs[String](QueryStatus.StatusField)).toMap
      assert(byQuery("events | count") == "success")
      assert(byQuery("no_such_table | count") == "error")
    } finally srv.stop()
  }
}
