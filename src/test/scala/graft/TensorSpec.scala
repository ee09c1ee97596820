package graft

import graft.etl.EventTables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip laws for the ragged-tensor encoding (SURVEY.md §5):
  * explode/reshape of flatten+shape cells recovers the original tensors,
  * and the native Generator agrees with the built-in-composed plan.
  */
class TensorSpec extends AnyFunSuite with SparkSuite {

  /** Built-in-composed equivalent of tensor_explode for 2-D tensors:
    * `posexplode` over `slice`s, to cross-check the native Generator.
    */
  private def explodeSql(dataCol: String, shapeCol: String): String = {
    val stride = s"CAST(aggregate(slice($shapeCol, 2, size($shapeCol) - 1), 1L, (a, x) -> a * x) AS INT)"
    s"posexplode(transform(sequence(0, CAST(element_at($shapeCol, 1) AS INT) - 1), " +
      s"i -> slice($dataCol, i * $stride + 1, $stride)))"
  }

  test("tensor_explode recovers row count and row content") {
    val df = EventTables.spacepoints(spark, nEvents = 3, nPoints = 50)
    df.createOrReplaceTempView("te_events")
    val long = spark.sql(
      """SELECT event, t.idx, t.slice
        |FROM te_events
        |LATERAL VIEW tensor_explode(spacepoint_t, spacepoint_t_shape) t AS idx, slice""".stripMargin)
    val rows = df.select(col("event"), element_at(col("spacepoint_t_shape"), 1).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts = long.groupBy("event").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == rows)
    // each slice has the trailing-axis length
    val sliceLens = long.select(size(col("slice"))).distinct().collect().map(_.getInt(0)).toSet
    assert(sliceLens == Set(4))
  }

  test("native generator matches built-in-composed explode") {
    val df = EventTables.spacepoints(spark, nEvents = 2, nPoints = 40)
    df.createOrReplaceTempView("te2_events")
    val native = spark.sql(
      """SELECT event, t.idx, t.slice FROM te2_events
        |LATERAL VIEW tensor_explode(spacepoint_t, spacepoint_t_shape) t AS idx, slice""".stripMargin)
    val composed = spark.sql(
      s"""SELECT event, ${explodeSql("spacepoint_t", "spacepoint_t_shape")}
         |AS (idx, slice) FROM te2_events""".stripMargin)
    assert(native.exceptAll(composed).count() == 0)
    assert(composed.exceptAll(native).count() == 0)
  }

  test("tensor_explode and voxel_components read an int shape like a long one") {
    import spark.implicits._
    Seq((Array(1f, 2f, 3f, 4f, 5f, 6f), Array(2L, 3L), Array(0L, 0L, 0L, 0L, 0L, 2L), Array(1L, 1L)))
      .toDF("data", "shape", "coord", "label").createOrReplaceTempView("te_int")
    def rows(shape: String) = spark.sql(
      s"""SELECT t.idx, t.slice, voxel_components(coord, $shape, label) AS comp FROM te_int
         |LATERAL VIEW tensor_explode(data, $shape) t AS idx, slice""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val want = Seq(Seq(0, Seq(1f, 2f, 3f), Seq(0L, 2L)), Seq(1, Seq(4f, 5f, 6f), Seq(0L, 2L)))
    assert(rows("shape") == want)
    assert(rows("CAST(shape AS ARRAY<INT>)") == want)
  }

  test("tensor_reshape nests row-major and round-trips with flatten") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f, 4f, 5f, 6f), 3)).toDF("data", "k")
    df.createOrReplaceTempView("tr")
    val nested = spark.sql("SELECT tensor_reshape(data, k) AS m FROM tr")
      .collect()(0).getSeq[Seq[Float]](0)
    assert(nested == Seq(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)))
    val roundtrip = spark.sql("SELECT flatten(tensor_reshape(data, k)) AS f, data FROM tr")
      .filter(col("f") === col("data")).count()
    assert(roundtrip == 1)
  }

  test("rank-3 reshape round-trip law: flatten(reshape(x, shape)) == x") {
    import spark.implicits._
    val data = (1 to 24).map(_.toFloat).toArray
    Seq(Tuple1(data)).toDF("data").createOrReplaceTempView("tr3")
    def deep(v: Any): Any = v match {
      case s: scala.collection.Seq[_] => s.map(deep).toList
      case x => x
    }
    // 2×3×4, row-major: first 2-D slice holds 1..12
    val m = deep(spark.sql("SELECT tensor_reshape(data, array(2L, 3L, 4L)) AS m FROM tr3")
      .collect()(0).getSeq[Any](0)).asInstanceOf[List[List[List[Float]]]]
    assert(m.length == 2 && m(0).length == 3 && m(0)(0).length == 4)
    assert(m(0)(0) == List(1f, 2f, 3f, 4f))
    assert(m(1)(2) == List(21f, 22f, 23f, 24f))
    // full-depth flatten round-trips
    val rt = spark.sql(
      "SELECT flatten(flatten(tensor_reshape(data, array(2L, 3L, 4L)))) AS f, data FROM tr3")
      .filter(col("f") === col("data")).count()
    assert(rt == 1)
    // rank-3 reshape agrees with nested 2-D reshapes (reshape(x,[2,3,4]) ==
    // transform(reshape(x, 12), s -> reshape(s, 4)))
    val twice = deep(spark.sql(
      "SELECT transform(tensor_reshape(data, 12), s -> tensor_reshape(s, 4)) AS m FROM tr3")
      .collect()(0).getSeq[Any](0))
    assert(m == twice)
  }

  test("rank-N reshape demands a foldable shape vector") {
    import spark.implicits._
    Seq((Array(1f, 2f, 3f, 4f), Array(2L, 2L))).toDF("data", "shp")
      .createOrReplaceTempView("tr_dyn")
    val e = intercept[Exception] {
      spark.sql("SELECT tensor_reshape(data, shp) FROM tr_dyn").collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable") || e.getCause != null)
  }

  test("tensor_reshape rejects non-divisible lengths") {
    import spark.implicits._
    Seq((Array(1f, 2f, 3f), 2)).toDF("data", "k").createOrReplaceTempView("tr_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT tensor_reshape(data, k) FROM tr_bad").collect()
    }
    assert(e.getMessage.contains("not divisible") || e.getCause != null)
  }
}
