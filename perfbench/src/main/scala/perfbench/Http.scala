package perfbench

import java.io.{BufferedReader, FilterInputStream, InputStream, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One generated request, as read from the request file. `cycle` numbers
  * the request's cycle (a run measures whole cycles); `check` is `rows`
  * (keep the rows for a tolerance compare) or `hash` (digest them here;
  * `ordered` says whether the digest is order-sensitive). */
final case class Request(
    i: Int, cycle: Int, kind: String, body: String, check: String, ordered: Boolean)

/** What the client saw for one request. Times are milliseconds after
  * send; NaN when the event did not happen. */
final class Outcome(val req: Request) {
  var sendMs = 0.0
  var latencyMs = Double.NaN
  var headersMs = Double.NaN
  var firstRowMs = Double.NaN
  var firstPartialMs = Double.NaN
  var lastRowMs = Double.NaN
  var rows = 0L
  var frames = 0L
  var partials = 0L
  var bytes = 0L
  var error: String = null
  var digest: String = null
  val kept = ArrayBuffer.empty[String]

  def ok: Boolean = error == null

  def record: Map[String, Any] = Map(
    "i" -> req.i, "kind" -> req.kind, "ok" -> ok, "error" -> Option(error),
    "send_ms" -> sendMs, "latency_ms" -> latencyMs, "headers_ms" -> headersMs,
    "first_row_ms" -> firstRowMs, "first_partial_ms" -> firstPartialMs,
    "last_row_ms" -> lastRowMs, "rows" -> rows, "frames" -> frames,
    "partials" -> partials, "bytes" -> bytes, "digest" -> Option(digest))
}

/** Minimal SSE client for `POST /query`. */
object Http {
  private val mapper = new ObjectMapper()

  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    var n = 0L
    override def read(): Int = { val c = super.read(); if (c >= 0) n += 1; c }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val k = super.read(b, off, len); if (k > 0) n += k; k
    }
  }

  def post(port: Int, r: Request): Outcome = {
    val o = new Outcome(r)
    val digest = if (r.check == "hash") new ResultDigest(r.ordered) else null
    val t0 = Clock.ms
    o.sendMs = t0
    try {
      val c = URI.create(s"http://127.0.0.1:$port/query").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setConnectTimeout(30000)
      c.setReadTimeout(120000)
      c.setRequestProperty("Content-Type", "application/json")
      val out = c.getOutputStream
      out.write(r.body.getBytes(UTF_8))
      out.close()
      val code = c.getResponseCode
      o.headersMs = Clock.ms - t0
      if (code != 200) {
        val err = Option(c.getErrorStream).map(s => new String(s.readAllBytes(), UTF_8)).getOrElse("")
        o.error = s"HTTP $code: ${err.take(300)}"
      } else {
        val counting = new Counting(c.getInputStream)
        val in = new BufferedReader(new InputStreamReader(counting, UTF_8))
        var event: String = null
        val data = new java.lang.StringBuilder
        var hasData = false
        var done = false
        var line = in.readLine()
        while (line != null && !done && o.error == null) {
          if (line.isEmpty) {
            if (event != null || hasData) {
              o.frames += 1
              val now = Clock.ms - t0
              event match {
                case null =>
                  if (o.rows == 0) o.firstRowMs = now
                  o.lastRowMs = now
                  o.rows += 1
                  val row = data.toString
                  if (digest != null) digest.add(canonical(row)) else o.kept += row
                case "partial" =>
                  if (o.partials == 0) o.firstPartialMs = now
                  o.partials += 1
                case "done" => done = true
                case "error" => o.error = s"event: error: ${data.toString.take(300)}"
                case other => o.error = s"unexpected event '$other'"
              }
            }
            event = null; data.setLength(0); hasData = false
          } else if (line.startsWith(":")) ()
          else if (line.startsWith("event: ")) event = line.substring(7)
          else if (line.startsWith("data: ")) {
            if (hasData) data.append('\n')
            data.append(line, 6, line.length); hasData = true
          } else if (line == "data:") hasData = true
          line = if (done) null else in.readLine()
        }
        // drain to the end so the connection can be reused
        while (in.readLine() != null) ()
        in.close()
        o.bytes = counting.n
        if (o.error == null && !done) o.error = "stream ended without event: done"
      }
      o.latencyMs = Clock.ms - t0
    } catch {
      case e: Exception =>
        o.latencyMs = Clock.ms - t0
        o.error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
    }
    if (digest != null) o.digest = s"${digest.rows}:${digest.hex}"
    o
  }

  /** Canonical row (see [[Canon]]) from one Spark JSON row. */
  def canonical(jsonRow: String): String = {
    val node = mapper.readTree(jsonRow)
    val fields = ArrayBuffer.empty[(String, String)]
    node.fields().forEachRemaining { e =>
      value(e.getValue).foreach(v => fields += (e.getKey -> v))
    }
    Canon.row(fields.toSeq)
  }

  private def value(v: JsonNode): Option[String] =
    if (v.isNull) None
    else if (v.isIntegralNumber) Some(v.bigIntegerValue.toString)
    else if (v.isNumber) Some(Canon.double(v.doubleValue, 12))
    else if (v.isBoolean) Some(v.booleanValue.toString)
    else if (v.isTextual) Some(v.textValue)
    else Some(v.toString)
}
