package graft.quality

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder

/** One-pass covariance moments for [[SimilarityOps.powerPca]] (round 16,
  * optimization guide §1.2 step 1 / §2.3 "aggregate before you shuffle"):
  * row count, per-position decimal sums, and the full d² outer-product
  * decimal sums, accumulated in a single typed `Aggregator` with map-side
  * partial aggregation — the a8b/VectorSumAgg precedent applied to nn7's
  * covariance pass. It replaces THREE N-scaled subplans (a count scan, a
  * d-per-row posexplode for μ, and the d²-per-row outer-product explode +
  * (p,q)-keyed shuffle that dominated nn7 after the round-15 iteration
  * fusion): one scan, no explode, and the only shuffled bytes are the
  * fixed-size partial buffers (d² + d longs, 34 KB at d = 64).
  *
  * BIT-EXACTNESS CONTRACT (the law test in SimilaritySpec pins this
  * against the round-15 explode form, kept in the test tree as
  * `graft.RetainedForms.covMomentsByExplode`, on fixture and corpus):
  * each term is rounded to 12 fractional digits exactly the way
  * Spark's `cast(x AS DECIMAL(38,12))` rounds it —
  * `java.math.BigDecimal.valueOf(double)` is the canonical-string image
  * (what Spark's Decimal.apply(Double) builds; Double.toString emits
  * ≤ 17 significant digits, below DECIMAL128's 34-digit context, so no
  * context rounding occurs) and `setScale(12, HALF_UP)` is Decimal's
  * changePrecision rounding. The scaled-long sum is then exact and
  * order-free, so the result is bit-reproducible under ANY merge order
  * and equals `sum(cast(term AS DECIMAL(38,12)))`.
  *
  * Magnitude and failure posture: embedding values are unit-scale
  * (|v| < 1 on the driver corpus), so a scaled term is < 10¹² and the
  * sum stays eight orders below Long overflow at sf100 row counts
  * (~2·10⁶ rows × 10¹² needs another ~10⁴× to approach 2⁶³); every
  * addition goes through `Math.addExact`, so if a deployment ever
  * crosses that line the query FAILS LOUDLY instead of silently
  * wrapping. Likewise the kernel requires a UNIFORM embedding dimension:
  * a ragged array throws with the offending sizes (ADVICE r15 — the
  * row-major d² indexing downstream would otherwise silently shift every
  * matvec), where a null ARRAY row is legal and contributes only to the
  * total row count (exactly the old plan: `count(lit(1))` counted it,
  * posexplode and the explode_outer+filter dropped it).
  *
  * Buffer layout (flat Array[Long], the cheapest encoder): [0] = total
  * rows (null arrays included), [1] = d (-1 until the first non-null
  * row), [2] = non-null rows, [3 .. 3+d) = per-position sums, then the
  * upper triangle INCLUDING the diagonal of the outer-product sums
  * (d(d+1)/2 entries): xy(p,q) = xy(q,p) exactly — IEEE multiplication
  * is commutative, so the rounded decimal images coincide and mirroring
  * halves the per-row BigDecimal work.
  */
object CovMomentsAggImpl
    extends Aggregator[Array[Double], Array[Long], CovMoments] {
  private val Scale = 12

  private def scaled(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(Scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def triLen(d: Int): Int = d * (d + 1) / 2

  def zero: Array[Long] = Array(0L, -1L, 0L)

  def reduce(b: Array[Long], a: Array[Double]): Array[Long] = {
    var out = b
    out(0) += 1L
    if (a == null) return out
    val d = a.length
    if (out(1) == -1L) {
      val grown = java.util.Arrays.copyOf(out, 3 + d + triLen(d))
      grown(1) = d.toLong
      out = grown
    } else if (out(1) != d.toLong)
      throw new IllegalArgumentException(
        s"powerPca covariance kernel requires a uniform embedding " +
          s"dimension: saw length $d after ${out(1)}")
    var p = 0
    var t = 3 + d
    while (p < d) {
      out(3 + p) = Math.addExact(out(3 + p), scaled(a(p)))
      var q = p
      while (q < d) {
        out(t) = Math.addExact(out(t), scaled(a(p) * a(q)))
        t += 1
        q += 1
      }
      p += 1
    }
    out(2) += 1L
    out
  }

  def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    val (dst0, src) = if (x(1) == -1L) (y, x) else (x, y)
    if (src(1) != -1L && src(1) != dst0(1))
      throw new IllegalArgumentException(
        s"powerPca covariance kernel requires a uniform embedding " +
          s"dimension: merging d=${src(1)} into d=${dst0(1)}")
    val dst = dst0.clone()
    dst(0) = Math.addExact(dst(0), src(0))
    dst(2) = Math.addExact(dst(2), src(2))
    var i = 3
    while (i < src.length) {
      dst(i) = Math.addExact(dst(i), src(i))
      i += 1
    }
    dst
  }

  def finish(r: Array[Long]): CovMoments = {
    val d = if (r(1) == -1L) 0 else r(1).toInt
    // valueOf(unscaled, scale) → doubleValue is one correctly-rounded
    // decimal→double conversion — the same arithmetic as Spark's
    // cast(sum AS DOUBLE) over the DECIMAL(38,12) aggregate
    def toD(l: Long): Double = java.math.BigDecimal.valueOf(l, Scale).doubleValue()
    val msum = Array.tabulate(d)(p => toD(r(3 + p)))
    val tri = 3 + d
    def triIdx(p: Int, q: Int): Int = tri + p * d - p * (p - 1) / 2 + (q - p)
    val psum = Array.tabulate(d * d) { i =>
      val p = i / d; val q = i % d
      toD(r(if (p <= q) triIdx(p, q) else triIdx(q, p)))
    }
    CovMoments(r(0), r(2), msum, psum)
  }

  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[CovMoments] = ExpressionEncoder[CovMoments]()
}

/** [[CovMomentsAggImpl]] output: total rows (n), non-null rows (nvec),
  * per-position decimal sums cast to double (msum, length d), and the
  * row-major d² outer-product decimal sums cast to double (psum).
  */
final case class CovMoments(
    n: Long, nvec: Long, msum: Array[Double], psum: Array[Double])
