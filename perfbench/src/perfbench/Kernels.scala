package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kernel micro-bench of the traced run: each codegen kernel on a fixed,
  * cached in-memory input, timed as the median of three noop-write passes
  * after one warm pass, so a kernel regression separates from a plan
  * regression. Reports rows produced (generators) or evaluated (scalar
  * kernels) per second.
  */
object Kernels {
  val names = Seq("tensor_explode", "minhash_sig", "simhash_sig", "pair_explode",
    "sliding_min", "float_dot")

  def run(spark: SparkSession): Map[String, Double] = {
    graft.tensor.TensorFunctions.register(spark)
    graft.tensor.TextFunctions.register(spark)
    graft.tensor.VectorFunctions.register(spark)
    val rng = new scala.util.Random(20240607L)
    import spark.implicits._
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

    val tensors = cached((0 until 64).map { i =>
      (i.toLong, Array.fill(2000 * 4)(rng.nextFloat()), Array(2000L, 4L))
    }.toDF("id", "data", "shape"))
    val vocab = Array.tabulate(5000)(i => s"w$i")
    val docs = cached((0 until 20000).map { i =>
      (i.toLong, Array.fill(40)(vocab(rng.nextInt(vocab.length))).distinct)
    }.toDF("id", "tokens"))
    val buckets = cached((0 until 2000).map { i =>
      (i.toLong, Array.fill(30)(rng.nextLong()))
    }.toDF("id", "ids"))
    val hashes = cached((0 until 20000).map { i =>
      (i.toLong, Array.fill(200)(rng.nextInt(Int.MaxValue).toLong))
    }.toDF("id", "hs"))
    val vecs = cached((0 until 50000).map { i =>
      (Array.fill(128)(rng.nextFloat()), Array.fill(128)(rng.nextFloat()))
    }.toDF("a", "b"))
    val mod = 2147483647L
    def seeds(n: Int) = {
      val r = new scala.util.Random(n)
      val a = Seq.fill(n)(1L + r.nextInt((mod - 1).toInt)).mkString(", ")
      val b = Seq.fill(n)(r.nextInt(mod.toInt).toLong).mkString(", ")
      s"CAST(array($a) AS ARRAY<BIGINT>), CAST(array($b) AS ARRAY<BIGINT>)"
    }

    val cases: Seq[(String, () => DataFrame, Long)] = Seq(
      ("tensor_explode", () => tensors.selectExpr("tensor_explode(data, shape) AS (idx, slice)"),
        64L * 2000),
      ("minhash_sig", () => docs.selectExpr(s"minhash_sig(tokens, ${seeds(128)}) AS s"), 20000L),
      ("simhash_sig", () => docs.selectExpr(s"simhash_sig(tokens, ${seeds(64)}) AS s"), 20000L),
      ("pair_explode", () => buckets.selectExpr("pair_explode(ids, CAST(NULL AS ARRAY<BIGINT>)) AS (a, b)"),
        2000L * 30 * 29 / 2),
      ("sliding_min", () => hashes.selectExpr("sliding_min(hs, 16) AS m"), 20000L),
      ("float_dot", () => vecs.selectExpr("float_dot(a, b) AS d"), 50000L))
    val out = cases.map { case (name, q, rows) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        q().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      name -> rows / Stats.median(Seq.fill(3)(once()))
    }.toMap
    Seq(tensors, docs, buckets, hashes, vecs).foreach(_.unpersist())
    out
  }
}
