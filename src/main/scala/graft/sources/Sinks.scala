package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet sink writers for KQL `write`/`tee` targets.
  *
  * Two modes, matching the reference's sink split
  * (`miso-connectors/src/lib.rs:306-318`): plain append (`create_sink`) and
  * key-based upsert (`create_updatable_sink`,
  * `miso-connectors/src/memory.rs:181-195`) where an incoming row replaces
  * the stored row sharing its primary-key value.
  */
object Sinks {

  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Write as a bucketed (and per-bucket sorted) parquet table, registered
    * in the session catalog with its bucket spec and backed by `path`.
    *
    * Bucketing is the 100 TB co-location lever the plain parquet sinks
    * can't offer: two tables bucketed on the same key with the same bucket
    * count join with NO shuffle on either side (Catalyst sees the
    * hash-partitioned layout and plans a zero-Exchange sort-merge join —
    * BucketedJoinSpec pins this), and aggregations on the bucket key skip
    * their exchange the same way. The write itself costs one shuffle into
    * `nBuckets` files per partition-writer — paid once, amortized over
    * every downstream join/agg on that key.
    */
  def writeBucketed(
      df: DataFrame, table: String, path: String,
      key: String, nBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  // One lock per target path: concurrent upserts to one sink (e.g. two
  // KQL `write`s from the server's handler pool) would otherwise both merge
  // from the same pre-image and lose records in the unsynchronized
  // read-merge-delete-rename.
  private val pathLocks =
    scala.collection.concurrent.TrieMap[String, Object]()
  private def lockFor(path: String): Object =
    pathLocks.getOrElseUpdate(path, new Object)

  /** Key-based merge/overwrite (the reference's `UpdatableSink::upsert`,
    * `memory.rs:87-103`): incoming rows replace existing rows with the same
    * primary-key value; a batch lacking the key column fails like the
    * reference's `SinkUpsertError::PrimaryKeyNotFound`. Duplicate keys
    * within one batch are collapsed to a single row (which one is
    * nondeterministic — a DataFrame has no row order to make "last" of).
    *
    * Implementation is read-merge-write with a directory swap, sized for
    * control tables such as watermark registries. At data scale, partition
    * the target by a key-derived bucket and use dynamic partition-overwrite
    * so a batch rewrites only the partitions its keys land in, not the
    * whole table.
    */
  def upsert(spark: SparkSession, df: DataFrame, path: String, primaryKey: String): Unit =
    lockFor(path).synchronized {
      require(df.columns.exists(_.equalsIgnoreCase(primaryKey)),
        s"upsert primary key '$primaryKey' not found in row schema " +
          s"[${df.columns.mkString(", ")}]")
      val incoming = df.dropDuplicates(primaryKey)
      val dir = new Path(path)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val merged =
        if (fs.exists(dir)) {
          // keep existing rows whose key is absent from the batch, then take
          // the batch wholesale; schema-tolerant like the engine's bag union
          spark.read.parquet(path)
            .join(incoming.select(primaryKey).distinct(), Seq(primaryKey), "left_anti")
            .unionByName(incoming, allowMissingColumns = true)
        } else incoming
      // the merged plan reads the directory it is about to replace — write
      // to a sibling temp dir first, then swap. The swap is two metadata
      // renames (not a recursive delete of the live dir), so the
      // readers-see-nothing window is as small as the filesystem allows.
      val tmp = new Path(path + ".upsert-tmp")
      val old = new Path(path + ".upsert-old")
      fs.delete(tmp, true)
      merged.write.mode("overwrite").parquet(tmp.toString)
      fs.delete(old, true)
      if (fs.exists(dir)) fs.rename(dir, old)
      fs.rename(tmp, dir)
      fs.delete(old, true)
      // the swap happened through raw filesystem renames, which Spark's
      // shared FileStatusCache cannot observe — without this, the NEXT
      // read of `path` in this session (including the next upsert's own
      // merge scan) can plan against the pre-swap file listing and fail
      // mid-task with FILE_NOT_EXIST
      spark.catalog.refreshByPath(path)
    }
}
