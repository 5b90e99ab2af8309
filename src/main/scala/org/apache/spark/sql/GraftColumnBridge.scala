package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression conversions so the
  * engine can expose custom Catalyst expressions (e.g. `HasPhrase`) as
  * `Column`s on Spark 4's ColumnNode API.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `localCheckpoint` that SEVERS statistics lineage. Spark's checkpoint
    * preserves the origin plan's estimated `Statistics` on the resulting
    * `LogicalRDD` (SPARK-39748); in an iterative loop whose body JOINS
    * the previous checkpoint (connected components, SCC label
    * propagation), the size-in-bytes estimate then SQUARES every
    * iteration — after ~20 rounds the driver grinds multi-million-digit
    * `BigInt` multiplications inside `SizeInBytesOnlyStatsPlanVisitor`
    * (observed: a 100k-edge SCC pinned one core for 30+ minutes in
    * `BigInteger.multiplyToomCook3` before any real work). Materializing
    * first and re-wrapping the checkpointed `InternalRow` RDD drops the
    * origin stats, so each iteration's estimate starts from the default
    * leaf size again.
    */
  def localCheckpointNoStats(df: Dataset[Row]): Dataset[Row] = {
    val ck = df.localCheckpoint()
    ck.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(ck.queryExecution.toRdd, ck.schema)
  }

  /** A fresh `<java.io.tmpdir>/<prefix>-<uuid>` directory that Spark
    * deletes at JVM shutdown (`Utils.createTempDir`). */
  def createTempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(
      System.getProperty("java.io.tmpdir"), prefix)

  /** Re-bind a DataFrame's (analyzed) logical plan to another session
    * sharing the same SparkContext — the scoped-conf pattern: clone a
    * session (`spark.newSession()`), set the conf override there, bind the
    * plan in, materialize, bind the result back. Nothing global mutates,
    * so concurrent queries on the original session never observe the
    * override (the round-9 `checkpointPreserving` AQE toggle leaked
    * exactly that way).
    */
  def bindToSession(df: Dataset[Row], spark: SparkSession): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
