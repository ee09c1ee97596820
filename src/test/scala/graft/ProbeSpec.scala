package graft

import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

/** `Probe time`/`stages` time a query's construction together with its
  * write: a query built eagerly (checkpoints, CC rounds, store writes)
  * does its work before it returns a DataFrame, and a clock started
  * after that return reads only the cheap remainder.
  */
class ProbeSpec extends AnyFunSuite with SparkSuite {
  test("Probe's timing includes the eager jobs a query runs while it is built") {
    var eagerS = 0.0
    val query = () => {
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(300))
      eagerS = (System.nanoTime() - t0) / 1e9
      spark.range(10).toDF()
    }
    val (construct, write) = Probe.constructAndWrite(query)
    assert(eagerS >= 0.3)
    assert(construct >= eagerS, s"construct $construct s < eager job $eagerS s")
    assert(construct + write >= eagerS)
  }
}
