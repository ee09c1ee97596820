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

  /** Jobs run by `body`, counted through a job group. */
  def jobsIn(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
    // the status store registers jobs from the listener bus
    // asynchronously — poll until the count is stable
    var last = -1
    var cur = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    var waited = 0
    while (cur != last && waited < 3000) {
      last = cur; Thread.sleep(100); waited += 100
      cur = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    cur
  }
}
