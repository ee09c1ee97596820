package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scan fan-out gate on the factory session (`graft.scan.fanout` =
  * cores): a single unsplittable file of at least `FanoutMinBytes` is
  * round-robin repartitioned after the scan; a smaller table, or a
  * directory that already has at least `cores` part files, is read as is.
  */
class FanoutGateSpec extends AnyFunSuite with SparkSuite {

  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"
  private def cores = spark.conf.get("graft.scan.fanout").toInt

  private def fansOut(dir: String): Boolean =
    Tables(spark, dir, "lineitem").queryExecution.executedPlan.toString
      .contains("RoundRobinPartitioning")

  test("a single file of at least 512 KB fans out") {
    val (bytes, files) = Tables.inputStat(spark, s"$sf01/lineitem.parquet")
    assert(bytes >= Tables.FanoutMinBytes && files == 1L)
    assert(fansOut(sf01))
  }

  test("a table under 512 KB does not") {
    assert(Tables.inputStat(spark, s"$sf/lineitem.parquet")._1 < Tables.FanoutMinBytes)
    assert(!fansOut(sf))
  }

  test("a copy with at least `cores` part files does not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toFile
    spark.read.parquet(s"$sf01/lineitem.parquet").repartition(cores)
      .write.parquet(s"$dir/lineitem.parquet")
    val (bytes, files) = Tables.inputStat(spark, s"$dir/lineitem.parquet")
    assert(bytes >= Tables.FanoutMinBytes && files >= cores)
    assert(!fansOut(dir.getAbsolutePath))
  }
}
