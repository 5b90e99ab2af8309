package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: Spark implementation + optional DuckDB oracle.
  *
  * Column names MUST match between `fn`'s output and `oracle` (the driver
  * sorts columns by name before hashing). Every query orders its output
  * deterministically in both engines so row-order comparison is stable.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** A fresh scratch directory for a gate's index or sink, registered for
    * deletion at JVM shutdown. */
  def tempDir(prefix: String): String =
    org.apache.spark.sql.GraftColumnBridge.createTempDir(prefix).toString
}
