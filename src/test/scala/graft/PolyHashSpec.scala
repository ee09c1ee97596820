package graft

import graft.tensor.PolyHash31
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Pins the poly_hash31 kernel's arithmetic contract — the DuckDB oracles
  * for the dedup sketch family and winnowing recompute this exact fold,
  * so any drift here silently breaks every dd/x5 oracle.
  */
class PolyHashSpec extends AnyFunSuite with SparkSuite {

  /** The reference fold the oracle SQL implements (per-char Horner with
    * per-step mod), written independently of the kernel.
    */
  private def refFold(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 127 + c.toInt) % 2147483647L)

  private val asciiGen: Gen[String] =
    Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0x20, 0x7e).map(_.toChar)).map(_.mkString))

  private def cases(count: Int): Seq[String] =
    (0 until count).flatMap(i => asciiGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("law: kernel equals the per-char Horner fold on printable ASCII") {
    cases(200).foreach { s =>
      assert(PolyHash31.hash(UTF8String.fromString(s)) == refFold(s), s"on '$s'")
    }
  }

  test("law: codegen and interpreted paths agree through SQL") {
    import spark.implicits._
    val strs = cases(50).filter(_.nonEmpty)
    val got = strs.toDF("s")
      .selectExpr("poly_hash31(s) AS h")
      .collect().map(_.getLong(0)).toSeq
    assert(got == strs.map(refFold))
  }

  test("range: results always in [0, 2^31-1)") {
    cases(200).foreach { s =>
      val h = PolyHash31.hash(UTF8String.fromString(s))
      assert(h >= 0L && h < 2147483647L)
    }
  }

  test("empty string hashes to 0 (fold identity)") {
    assert(PolyHash31.hash(UTF8String.fromString("")) == 0L)
  }
}
