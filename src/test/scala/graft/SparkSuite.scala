package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs: the [[Session]] configuration at a
  * fixed 4 cores (one JVM-wide session; getOrCreate makes every suite
  * reuse it).
  */
trait SparkSuite {
  lazy val spark: SparkSession = Session.builder(cores = 4)
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
