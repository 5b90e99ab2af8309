package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Locale

/** Machine-read output. Every number goes through [[num]], which never
  * consults the default locale, so a JVM started under a comma-decimal
  * locale still writes `1.5`, never `1,5`.
  */
object Emit {

  /** A JSON value tree: Map (object, insertion order kept), Seq (array),
    * String, Boolean, Int/Long/Double, or None/null (JSON null). */
  def json(v: Any): String = {
    val b = new java.lang.StringBuilder
    write(b, v)
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else JBigDecimal.valueOf(d).toPlainString

  private def write(b: java.lang.StringBuilder, v: Any): Unit = v match {
    case null | None => b.append("null")
    case Some(x) => write(b, x)
    case s: String => quote(b, s)
    case x: Boolean => b.append(x)
    case x: Int => b.append(Integer.toString(x))
    case x: Long => b.append(java.lang.Long.toString(x))
    case x: Double => b.append(num(x))
    case m: collection.Map[_, _] =>
      b.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) b.append(',')
        first = false
        quote(b, k.toString); b.append(':'); write(b, x)
      }
      b.append('}')
    case xs: Iterable[_] =>
      b.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) b.append(',')
        first = false
        write(b, x)
      }
      b.append(']')
    case other => throw new IllegalArgumentException(s"not a JSON value: $other")
  }

  private def quote(b: java.lang.StringBuilder, s: String): Unit = {
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"')
  }
}

/** Canonical form of a result value, shared with the DuckDB-side checker
  * (`perfbench/check.py` implements the same rules): integers as decimal
  * text, floating values rounded to `digits` significant digits, strings
  * as-is, nulls dropped. A row is its non-null `name=value` pairs sorted
  * by name, so column order and Spark's null-field omission do not matter.
  */
object Canon {
  def double(d: Double, digits: Int): String =
    if (d == 0.0) "0"
    else if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else new JBigDecimal(d).round(new MathContext(digits, RoundingMode.HALF_EVEN))
      .stripTrailingZeros.toPlainString

  def row(fields: Seq[(String, String)]): String =
    fields.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\u001f")

  /** 64-bit digest of one canonical row (first 8 bytes of its SHA-256). */
  def rowDigest(canonical: String): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(canonical.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }
}

/** Result digest: `ordered` chains row digests (so row order counts),
  * otherwise they are summed (a multiset digest). Both wrap mod 2^64. */
final class ResultDigest(ordered: Boolean) {
  private var acc = 0L
  private var n = 0L
  def add(canonicalRow: String): Unit = {
    val d = Canon.rowDigest(canonicalRow)
    acc = if (ordered) acc * 1000003L + d else acc + d
    n += 1
  }
  def rows: Long = n
  def hex: String = java.lang.Long.toUnsignedString(acc, 16)
}
