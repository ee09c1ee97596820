package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Forms the engine replaced, kept only as the reference side of the law
  * tests that pin their replacements bit for bit.
  */
object RetainedForms {

  /** Interpreted HOF twins of `float_dot` / `float_norm` / `float_l2sq`
    * (VectorKernelSpec, KernelFusionSpec): must stay bit-identical to the
    * codegen kernels, and are the patterns KernelFusionRule rewrites.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
  def l2normHof(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** The round-15 covariance-moments plan — the count scan, the
    * posexplode μ pass and the d²-per-row outer-product explode with
    * (p,q)-keyed shuffled DECIMAL(38,12) sums that
    * [[graft.quality.CovMomentsAggImpl]] replaced in round 16. Reference
    * side of the bit-for-bit kernel law in SimilaritySpec: same output
    * shape as the kernel (n, per-p counts, msum, psum row-major), so the
    * spec compares rows directly. The per-p posexplode counts are
    * returned as an array (`cnts`) — on uniform-d input every entry
    * equals the kernel's single `nvec`.
    */
  def covMomentsByExplode(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column): Column = sum(c.cast(DecimalType(38, 12))).cast("double")
    val cnt = emb.agg(count(lit(1)).cast("long").as("n"))
    val mu = emb.select(posexplode(col("embedding")).as(Seq("p", "v")))
      .select(col("p"), col("v").cast("double").as("v"))
      .groupBy("p").agg(dec(col("v")).as("ms"), count(lit(1)).as("c"))
    val xy = emb
      .select(explode_outer(flatten(transform(col("embedding"), (vp, p) =>
        transform(col("embedding"), (vq, q) => struct(p.as("p"), q.as("q"),
          (vp.cast("double") * vq.cast("double")).as("xy")))))).as("t"))
      .filter(col("t").isNotNull)
      .groupBy(col("t.p").as("p"), col("t.q").as("q"))
      .agg(dec(col("t.xy")).as("sxy"))
    cnt
      .crossJoin(mu.agg(
        transform(array_sort(collect_list(struct(col("p"), col("c")))),
          x => x.getField("c")).as("cnts"),
        transform(array_sort(collect_list(struct(col("p"), col("ms")))),
          x => x.getField("ms")).as("msum")))
      .crossJoin(xy.agg(
        transform(array_sort(collect_list(struct(col("p"), col("q"), col("sxy")))),
          x => x.getField("sxy")).as("psum")))
  }
}
