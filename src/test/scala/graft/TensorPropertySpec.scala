package graft

import org.apache.spark.SparkThrowable
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5): the flatten+shape encode/decode laws hold
  * for arbitrary ragged shapes and values. Uses ScalaCheck generators
  * directly (pinned seeds → reproducible cases).
  */
class TensorPropertySpec extends AnyFunSuite with SparkSuite {

  private val tensorGen: Gen[(Array[Float], Long, Long)] = for {
    n <- Gen.choose(1, 20)
    m <- Gen.choose(1, 8)
    data <- Gen.listOfN(n * m, Gen.chooseNum(-1e6f, 1e6f))
  } yield (data.toArray, n.toLong, m.toLong)

  private def cases(count: Int): Seq[(Array[Float], Long, Long)] =
    (0 until count).flatMap(i => tensorGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("law: tensor_explode(flatten(t), shape(t)) reassembles t row-major") {
    import spark.implicits._
    cases(25).foreach { case (data, n, m) =>
      val df = Seq((data, Array(n, m))).toDF("data", "shape")
      df.createOrReplaceTempView("prop_t")
      val rows = spark.sql(
        """SELECT t.idx, t.slice FROM prop_t
          |LATERAL VIEW tensor_explode(data, shape) t AS idx, slice""".stripMargin)
        .orderBy("idx").collect()
      assert(rows.length == n, s"n=$n m=$m")
      val reassembled = rows.flatMap(_.getSeq[Float](1))
      assert(reassembled.toSeq == data.toSeq, s"n=$n m=$m")
      rows.foreach(r => assert(r.getSeq[Float](1).length == m))
    }
  }

  test("law: tensor_explode's aligned arrays equal element_at(label, idx + 1), ANSI and not") {
    import spark.implicits._
    // null arrays, null elements, and lengths below, at and above the
    // first axis (empty included)
    def labels[T](elem: Gen[T], n: Int): Gen[Option[Seq[Option[T]]]] =
      Gen.option(Gen.choose(0, n + 3).flatMap(Gen.listOfN(_, Gen.option(elem))))
    val caseGen = for {
      n <- Gen.choose(0, 6)
      m <- Gen.choose(1, 3)
      data <- Gen.listOfN(n * m, Gen.chooseNum(-1e3f, 1e3f))
      la <- labels(Gen.chooseNum(-5L, 5L), n)
      lb <- labels(Gen.alphaStr.map(_.take(3)), n)
    } yield (data, Seq(n.toLong, m.toLong), la, lb)
    /** Rows, or the error conditions on the cause chain of the failure. */
    def run(sql: String): Either[Set[String], Seq[Seq[Any]]] =
      try Right(spark.sql(sql).collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Int]))
      catch {
        case e: Exception => Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collect { case t: SparkThrowable if t.getCondition != null => t.getCondition }.toSet)
      }
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    try Seq(true -> 30, false -> 15).foreach { case (ansi, count) =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val prop = Prop.forAll(caseGen) { c =>
        Seq(c).toDF("data", "shape", "la", "lb").createOrReplaceTempView("prop_al")
        val aligned = run(
          """SELECT t.* FROM prop_al
            |LATERAL VIEW tensor_explode(data, shape, la, lb) t AS idx, slice, a, b""".stripMargin)
        val byIndex = run(
          """SELECT t.idx, t.slice, element_at(la, t.idx + 1), element_at(lb, t.idx + 1) FROM prop_al
            |LATERAL VIEW tensor_explode(data, shape) t AS idx, slice""".stripMargin)
        val short = Seq(c._3, c._4).exists(_.exists(_.length < c._2.head))
        aligned == byIndex && (aligned match {
          case Left(conds) => ansi && short && conds("INVALID_ARRAY_INDEX_IN_ELEMENT_AT")
          case Right(_) => !(ansi && short)
        })
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(count).withInitialSeed(11L), prop)
      assert(res.passed, s"ansi=$ansi: ${res.status}")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("law: flatten(tensor_reshape(d, m)) == d for any divisible length") {
    import spark.implicits._
    cases(25).foreach { case (data, _, m) =>
      val df = Seq((data, m.toInt)).toDF("data", "k")
      df.createOrReplaceTempView("prop_r")
      val back = spark.sql("SELECT flatten(tensor_reshape(data, k)) AS f FROM prop_r")
        .collect()(0).getSeq[Float](0)
      assert(back.toSeq == data.toSeq, s"m=$m len=${data.length}")
    }
  }

  test("law: float_dot/float_norm/float_l2sq equal the sequential-fold model bit-for-bit") {
    // The kernels' arithmetic contract (left-to-right double-widened fold)
    // against a plain Scala model, over arbitrary values — the property
    // the DuckDB oracle parity of every similarity query rests on.
    import spark.implicits._
    val pairGen: Gen[(Array[Float], Array[Float])] = for {
      n <- Gen.choose(1, 64)
      a <- Gen.listOfN(n, Gen.chooseNum(-1e6f, 1e6f))
      b <- Gen.listOfN(n, Gen.chooseNum(-1e6f, 1e6f))
    } yield (a.toArray, b.toArray)
    val pairs = (0 until 40)
      .flatMap(i => pairGen.apply(Gen.Parameters.default, Seed(1000L + i)))
    def modelDot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }; acc
    }
    def modelL2Sq(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }; acc
    }
    def modelNorm(a: Array[Float]): Double =
      math.sqrt(modelDot(a, a))
    val df = pairs.toDF("a", "b")
    val rows = df.selectExpr("a", "b",
      "float_dot(a, b) AS d", "float_l2sq(a, b) AS l", "float_norm(a) AS n").collect()
    rows.foreach { r =>
      val a = r.getSeq[Float](0).toArray
      val b = r.getSeq[Float](1).toArray
      // == on Double: bit-identical (no tolerance) is the contract
      assert(r.getDouble(2) == modelDot(a, b))
      assert(r.getDouble(3) == modelL2Sq(a, b))
      assert(r.getDouble(4) == modelNorm(a))
    }
  }
}
