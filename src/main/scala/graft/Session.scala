package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every main, tool and spec runs in —
  * the configuration `graft.Bench` times, so a profile, a plan dump or a
  * spec sees the same plans the bench measures.
  */
object Session {
  /** `SPARK_GRAFT_CPUS`, else every core of this JVM's machine. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The configured builder, for callers that add a path (the specs'
    * warehouse dir) before `getOrCreate`.
    */
  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions) // kernels + IntervalJoinStrategy
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The bundled test tables are single-row-group parquet — unsplittable,
      // so scan-stage compute would run in ONE task without this (see
      // Tables.fanout). At deployment scale input splits make this
      // unnecessary; it is harness sizing, not engine semantics.
      .config("graft.scan.fanout", cores)
      .config("spark.ui.enabled", "false")

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
