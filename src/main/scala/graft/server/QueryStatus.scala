package graft.server

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.UUID
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max_by, struct, timestamp_millis}
import org.apache.spark.sql.types._

/** Query-status tracking — the reference's `QueryStatusWriter`
  * (`miso-server/src/query_status.rs`, exercised by
  * `tests/query_status.rs`): each query id moves through planning →
  * running → success/error/canceled, and a reader sees exactly one record
  * per query id.
  *
  * Stored as an append-only event log, not a table rewritten per event:
  * every transition appends one JSON line (all [[schema]] fields plus the
  * writer's sequence number) to the writer's own `*.jsonl` file in the
  * status directory. A transition therefore costs one small file append
  * whatever the history size, fires no Spark job, and waits on no other
  * query. [[read]] folds the log to the latest record per query id, so the
  * status table can be registered in a [[graft.kql.Catalog]] and queried
  * with KQL like any other collection.
  */
object QueryStatus {
  val QueryIdField = "query_id"
  val QueryField = "query"
  val StatusField = "status"
  val StartTimeField = "start_time"
  val EndTimeField = "end_time"
  val RunTimeSecondsField = "run_time_seconds"
  val ErrorField = "error"
  /** Per-writer sequence number of a log line; orders one query's events. */
  val SeqField = "seq"

  val schema: StructType = StructType(Seq(
    StructField(QueryIdField, StringType, nullable = false),
    StructField(QueryField, StringType, nullable = false),
    StructField(StatusField, StringType, nullable = false),
    StructField(StartTimeField, TimestampType, nullable = false),
    StructField(EndTimeField, TimestampType, nullable = true),
    StructField(RunTimeSecondsField, DoubleType, nullable = true),
    StructField(ErrorField, StringType, nullable = true)))

  // a log line: the schema's fields with times as epoch milliseconds, plus
  // the sequence number
  private val lineSchema = StructType(schema.fields.map { f =>
    if (f.dataType == TimestampType) f.copy(dataType = LongType, nullable = true)
    else f.copy(nullable = true)
  } :+ StructField(SeqField, LongType))

  /** One row per query id: its latest logged record (highest sequence
    * number), with the [[schema]] columns. Reads only the directory's
    * `*.jsonl` files; a malformed line — e.g. a half-written tail seen
    * while another process appends — is skipped, not an error. A query
    * id's events all come from one writer (through the handle that
    * [[QueryStatusWriter.start]] returns), so its sequence numbers are
    * comparable.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val lines =
      if (!Files.isDirectory(Paths.get(path)))
        spark.createDataFrame(java.util.Collections.emptyList[Row](), lineSchema)
      else spark.read.schema(lineSchema)
        .option("mode", "DROPMALFORMED")
        .option("pathGlobFilter", "*.jsonl")
        .json(path)
    val required = schema.fields.filterNot(_.nullable).map(_.name) :+ SeqField
    val payload = schema.fieldNames.filterNot(_ == QueryIdField)
    def field(name: String): Column = {
      val c = col(s"r.$name")
      (if (schema(name).dataType == TimestampType) timestamp_millis(c) else c).as(name)
    }
    lines
      .where(required.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(QueryIdField)
      .agg(max_by(struct(payload.map(col).toIndexedSeq: _*), col(SeqField)).as("r"))
      .select(col(QueryIdField) +: payload.toSeq.map(field): _*)
  }
}

/** Appends status events for the queries it starts to its own `*.jsonl`
  * file under `path`, so writers never interleave lines. The only lock is
  * this writer's, held for one line write. The write path uses plain file
  * I/O; `spark` is not used by it.
  */
final class QueryStatusWriter(spark: SparkSession, path: String) {
  import QueryStatus._

  private val mapper = new ObjectMapper()
  private val file: Path = {
    val dir = Files.createDirectories(Paths.get(path))
    dir.resolve(s"status-${UUID.randomUUID()}.jsonl")
  }
  private var seq = 0L

  private def append(
      id: String, query: String, status: String, startMs: Long,
      endMs: Option[Long], error: Option[String]): Unit = {
    val line = mapper.createObjectNode()
      .put(QueryIdField, id)
      .put(QueryField, query)
      .put(StatusField, status)
      .put(StartTimeField, startMs)
      .put(EndTimeField, endMs.map(Long.box).orNull)
      .put(RunTimeSecondsField, endMs.map(e => Double.box((e - startMs) / 1000.0)).orNull)
      .put(ErrorField, error.orNull)
    synchronized {
      seq += 1
      line.put(SeqField, seq)
      Files.write(file, (mapper.writeValueAsString(line) + "\n").getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE, StandardOpenOption.APPEND)
    }
  }

  /** Record `planning` and return the handle that advances the record. */
  def start(id: String, query: String): QueryStatusHandle = {
    val startMs = System.currentTimeMillis()
    append(id, query, "planning", startMs, None, None)
    new QueryStatusHandle(this, id, query, startMs)
  }

  private[server] def update(
      id: String, query: String, status: String, startMs: Long): Unit =
    append(id, query, status, startMs, None, None)

  private[server] def finish(
      id: String, query: String, status: String, startMs: Long,
      error: Option[String]): Unit =
    append(id, query, status, startMs, Some(System.currentTimeMillis()), error)
}

final class QueryStatusHandle(
    writer: QueryStatusWriter, id: String, query: String, startMs: Long) {
  /** Advance the status (e.g. `running`) without closing the record. */
  def update(status: String): Unit = writer.update(id, query, status, startMs)

  /** Close the record: sets end time + run time, optional error. */
  def finish(status: String, error: Option[String] = None): Unit =
    writer.finish(id, query, status, startMs, error)
}
