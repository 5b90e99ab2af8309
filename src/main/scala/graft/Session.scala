package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the mains run on. */
object Session {

  /** `local[cpus]` with as many shuffle partitions as cores, UTC session
    * time zone and the UI off. `cpus` comes from `SPARK_GRAFT_CPUS`,
    * defaulting to the host's available processors. The log level is the
    * caller's. */
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
