package graft.tensor

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd polynomial string hash — the token-code kernel of the dedup
  * sketch family (DedupOps) and the k-gram hash of winnowing (TextOps).
  *
  * Arithmetic contract (must not drift — the DuckDB oracles recompute
  * it): left-to-right Horner fold over the string's characters,
  * `acc = (acc * 127 + char) % (2^31 − 1)`, zero-seeded. Implemented
  * over UTF-8 BYTES, which equals the character fold on ASCII input (the
  * documents corpus is printable-ASCII; non-ASCII bytes would diverge
  * from a codepoint-based engine — acceptable for a hash, but the oracle
  * SQL assumes ASCII).
  *
  * Exists because the equivalent higher-order-function form
  * (`aggregate(sequence(...), ... ascii(substring(...)))`) is interpreted
  * per element — HOFs don't participate in whole-stage codegen — and
  * allocates a per-char substring; measured ~3× end-to-end on the dd
  * sketch queries at sf0.1. This is a tight primitive loop inside the
  * generated code.
  */
case class PolyHash31(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"poly_hash31 requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    PolyHash31.hash(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.tensor.PolyHash31.hash($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PolyHash31 {
  final val Mod = 2147483647L // 2^31 − 1
  final val Base = 127L

  /** Static kernel shared by interpreted eval and generated code. */
  def hash(s: UTF8String): Long = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, offset + i) & 0xFF
      acc = (acc * Base + b) % Mod
      i += 1
    }
    acc
  }
}

/** `sliding_min(arr, w)` — minima of every width-`w` sliding window over
  * an `array<bigint>`, in position order: the winnowing window pass
  * (TextOps.winnowFingerprintsOf) as ONE O(n) monotonic-deque sweep.
  *
  * Value contract (must not drift — WinnowSpec pins equality on the
  * corpus): identical to the HOF form
  * `transform(sequence(0, greatest(0, size(a) - w)), j ->
  *    array_min(slice(a, j + 1, w)))` for every NON-NULL input array,
  * including the n < w edge (ONE window covering the whole array —
  * slice clamps), the empty array ([null]), and null elements
  * (array_min skips nulls; an all-null window yields null). One
  * DELIBERATE divergence, pinned in WinnowSpec: a NULL input ARRAY
  * returns NULL (the standard null-in/null-out every Spark function
  * follows), where the full HOF pattern yields [null] only because its
  * outer `greatest(0, size(null))` = 0 manufactures one window over a
  * null slice — an accident of that spelling, not a semantic anyone
  * wants; winnow's `hs` is never null. The HOF form is O(n·w) with a
  * fresh w-element slice allocation per window — measured as the bulk
  * of x5's 1,543 executor-seconds at sf10 (SCALING §x5) — while the
  * deque pops each index at most once.
  */
case class SlidingMin(child: Expression, wExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = child
  override def right: Expression = wExpr

  private lazy val w: Int = wExpr.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"sliding_min window must be a foldable integer literal, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, wExpr.foldable) match {
      case (ArrayType(LongType, _), true) =>
        // Validate the window VALUE at analysis time, not first eval: a
        // non-integral or < 1 literal must be a TypeCheckFailure the user
        // sees at query build, never an executor-side require/cast crash.
        wExpr.dataType match {
          case IntegerType | LongType =>
            val v = wExpr.eval(null)
            if (v == null)
              TypeCheckResult.TypeCheckFailure("sliding_min window must not be null")
            else {
              val w = v match { case i: Int => i.toLong; case l: Long => l }
              if (w >= 1) TypeCheckResult.TypeCheckSuccess
              else TypeCheckResult.TypeCheckFailure(
                s"sliding_min window must be >= 1, got $w")
            }
          case other => TypeCheckResult.TypeCheckFailure(
            s"sliding_min window must be an integer literal, got ${other.simpleString}")
        }
      case (_, false) => TypeCheckResult.TypeCheckFailure(
        "sliding_min window must be a foldable integer literal")
      case (other, _) => TypeCheckResult.TypeCheckFailure(
        s"sliding_min requires array<bigint>, got ${other.simpleString}")
    }

  override def nullSafeEval(a: Any, unused: Any): Any =
    SlidingMin.mins(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.tensor.SlidingMin.mins($a, $w);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, wExpr = r)
}

object SlidingMin {
  /** Static kernel shared by interpreted eval and generated code: one
    * left-to-right sweep with a monotonic index deque (front = current
    * window's minimum; every index enters and leaves at most once).
    * Null elements never enter the deque; an emptied deque emits null —
    * exactly array_min's skip-nulls semantics per window.
    */
  def mins(arr: org.apache.spark.sql.catalyst.util.ArrayData, w: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    require(w >= 1, s"sliding_min window must be >= 1, got $w")
    val n = arr.numElements()
    val nOut = math.max(1, n - w + 1)
    val out = new Array[Any](nOut)
    val idx = new Array[Int](math.max(n, 1))
    var head = 0
    var tail = 0 // deque is idx[head, tail): indices with increasing values
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getLong(i)
        while (tail > head && arr.getLong(idx(tail - 1)) >= v) tail -= 1
        idx(tail) = i; tail += 1
      }
      if (i >= w - 1) {
        val j = i - w + 1 // window j covers [j, j + w)
        while (head < tail && idx(head) < j) head += 1
        out(j) = if (head < tail) java.lang.Long.valueOf(arr.getLong(idx(head))) else null
      }
      i += 1
    }
    if (n < w && nOut == 1) // the clamped single whole-array window
      out(0) = if (head < tail) java.lang.Long.valueOf(arr.getLong(idx(head))) else null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `minhash_sig(tokens, a, b)` — the full k-hash MinHash signature of
  * one token array in a single codegen pass: for each token,
  * [[PolyHash31]] then k affine mixes `(t·aᵢ + bᵢ) mod M`, tracking the
  * k running minima in a local array. Value contract: identical to the
  * explode → `min` aggregate form over non-null tokens (DedupSpec pins
  * equality on the corpus) and to the HOF fold the streaming path used —
  * this kernel replaces BOTH, so batch and stream cannot drift. An
  * empty token array yields the all-M identity signature; a NULL array
  * yields NULL (callers that want the old explode-path "doc absent"
  * semantics filter the null).
  *
  * Why an expression and not the aggregate: the explode manufactured a
  * (doc, token) row per token just to funnel it through hash-agg
  * machinery — per-row group lookups, 32 aggregation buffers — when the
  * whole reduction is a tight k-wide loop over one in-memory array
  * (the x5 sliding_min precedent; measured on dd2's sf10 profile where
  * signature construction dominated).
  *
  * Seeds arrive as FOLDABLE long-array literals, validated at analysis
  * time: equal lengths ≥ 1 and every value within [0, M) — the bound
  * that keeps `t·a + b` inside 2⁶² (no silent overflow).
  */
case class MinHashSig(tokens: Expression, aExpr: Expression, bExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = aExpr
  override def third: Expression = bExpr

  @transient private lazy val sA: Array[Long] =
    aExpr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
  @transient private lazy val sB: Array[Long] =
    bExpr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def seedArray(e: Expression, name: String): Either[String, Array[Long]] =
      if (!e.foldable) Left(s"minhash_sig $name seeds must be a foldable array literal")
      else e.dataType match {
        case ArrayType(LongType, _) =>
          val v = e.eval(null)
          if (v == null) Left(s"minhash_sig $name seeds must not be null")
          else {
            val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            if ((0 until arr.numElements()).exists(arr.isNullAt))
              Left(s"minhash_sig $name seeds must not contain nulls")
            else {
              val longs = arr.toLongArray()
              if (longs.exists(x => x < 0 || x >= PolyHash31.Mod))
                Left(s"minhash_sig $name seeds must lie in [0, ${PolyHash31.Mod})")
              else Right(longs)
            }
          }
        case other => Left(
          s"minhash_sig $name seeds must be array<bigint>, got ${other.simpleString}")
      }
    tokens.dataType match {
      case ArrayType(StringType, _) =>
        (seedArray(aExpr, "a"), seedArray(bExpr, "b")) match {
          case (Left(m), _) => TypeCheckResult.TypeCheckFailure(m)
          case (_, Left(m)) => TypeCheckResult.TypeCheckFailure(m)
          case (Right(a), Right(b)) =>
            if (a.isEmpty) TypeCheckResult.TypeCheckFailure(
              "minhash_sig needs at least one hash function")
            else if (a.length != b.length) TypeCheckResult.TypeCheckFailure(
              s"minhash_sig seed arrays differ in length: ${a.length} vs ${b.length}")
            else TypeCheckResult.TypeCheckSuccess
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires array<string> tokens, got ${other.simpleString}")
    }
  }

  override def nullSafeEval(t: Any, a: Any, b: Any): Any =
    MinHashSig.sig(
      t.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], sA, sB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", sA, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", sB, "long[]")
    nullSafeCodeGen(ctx, ev, (t, _, _) =>
      s"${ev.value} = graft.tensor.MinHashSig.sig($t, $aRef, $bRef);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(tokens = f, aExpr = s, bExpr = t)
}

object MinHashSig {
  /** Static kernel shared by interpreted eval and generated code: one
    * pass over the tokens, k minima updated in registers/L1. Null
    * token elements are skipped (the explode path's isNotNull filter).
    */
  def sig(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      a: Array[Long], b: Array[Long])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val k = a.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, PolyHash31.Mod)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = PolyHash31.hash(toks.getUTF8String(i))
        var j = 0
        while (j < k) {
          val v = (t * a(j) + b(j)) % PolyHash31.Mod
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `simhash_sig(tokens, a, b)` — the 64-bit SimHash of one token array
  * in a single codegen pass (round 15; the [[MinHashSig]] precedent
  * applied to dd3/dd3b): for each token, [[PolyHash31]] then k affine
  * mixes `(t·aᵢ + bᵢ) mod M`, accumulating the k ±1 parity sums in a
  * local array; bit i of the result is set iff sum i is > 0. Value
  * contract: identical to the explode → 64 parallel `sum` aggregates →
  * sign-pack form (DedupSpec pins equality on the corpus) — integer ±1
  * sums are order-free, so the per-row fold and the aggregate agree
  * bit-for-bit. An empty token array yields 0 (no aggregate-path group
  * can produce one — split('') emits ['']); a NULL array yields NULL
  * (callers filter, as with minhash_sig).
  *
  * Why an expression and not the aggregate: the explode manufactured a
  * (doc, token) row per DISTINCT token just to shuffle it doc-keyed into
  * 64 aggregation buffers — the whole reduction is a tight 64-wide loop
  * over one in-memory array. This removes dd3/dd3b's only corpus-sized
  * exchange.
  *
  * Seed validation mirrors minhash_sig, plus k ≤ 64 (the result packs
  * into one BIGINT).
  */
case class SimHashSig(tokens: Expression, aExpr: Expression, bExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = aExpr
  override def third: Expression = bExpr

  @transient private lazy val sA: Array[Long] =
    aExpr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
  @transient private lazy val sB: Array[Long] =
    bExpr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def seedArray(e: Expression, name: String): Either[String, Array[Long]] =
      if (!e.foldable) Left(s"simhash_sig $name seeds must be a foldable array literal")
      else e.dataType match {
        case ArrayType(LongType, _) =>
          val v = e.eval(null)
          if (v == null) Left(s"simhash_sig $name seeds must not be null")
          else {
            val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            if ((0 until arr.numElements()).exists(arr.isNullAt))
              Left(s"simhash_sig $name seeds must not contain nulls")
            else {
              val longs = arr.toLongArray()
              if (longs.exists(x => x < 0 || x >= PolyHash31.Mod))
                Left(s"simhash_sig $name seeds must lie in [0, ${PolyHash31.Mod})")
              else Right(longs)
            }
          }
        case other => Left(
          s"simhash_sig $name seeds must be array<bigint>, got ${other.simpleString}")
      }
    tokens.dataType match {
      case ArrayType(StringType, _) =>
        (seedArray(aExpr, "a"), seedArray(bExpr, "b")) match {
          case (Left(m), _) => TypeCheckResult.TypeCheckFailure(m)
          case (_, Left(m)) => TypeCheckResult.TypeCheckFailure(m)
          case (Right(a), Right(b)) =>
            if (a.isEmpty) TypeCheckResult.TypeCheckFailure(
              "simhash_sig needs at least one hash function")
            else if (a.length != b.length) TypeCheckResult.TypeCheckFailure(
              s"simhash_sig seed arrays differ in length: ${a.length} vs ${b.length}")
            else if (a.length > 64) TypeCheckResult.TypeCheckFailure(
              s"simhash_sig packs into one BIGINT: at most 64 hashes, got ${a.length}")
            else TypeCheckResult.TypeCheckSuccess
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_sig requires array<string> tokens, got ${other.simpleString}")
    }
  }

  override def nullSafeEval(t: Any, a: Any, b: Any): Any =
    SimHashSig.sig(
      t.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], sA, sB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("simhashA", sA, "long[]")
    val bRef = ctx.addReferenceObj("simhashB", sB, "long[]")
    nullSafeCodeGen(ctx, ev, (t, _, _) =>
      s"${ev.value} = graft.tensor.SimHashSig.sig($t, $aRef, $bRef);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(tokens = f, aExpr = s, bExpr = t)
}

object SimHashSig {
  /** Static kernel shared by interpreted eval and generated code: one
    * pass over the tokens, k parity sums updated in registers/L1, then
    * one sign-pack. Null token elements are skipped (the explode path's
    * isNotNull filter); `(v & 1) * 2 - 1` is the aggregate form's exact
    * ±1 term.
    */
  def sig(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      a: Array[Long], b: Array[Long]): Long = {
    val k = a.length
    val sums = new Array[Long](k)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = PolyHash31.hash(toks.getUTF8String(i))
        var j = 0
        while (j < k) {
          val v = (t * a(j) + b(j)) % PolyHash31.Mod
          sums(j) += ((v & 1L) << 1) - 1L
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < k) {
      if (sums(j) > 0L) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** `pair_explode(la, lb)` — the LSH bucket-expansion kernel (round 16,
  * optimization guide §1.2 step 2): emit candidate pairs directly as
  * generator rows instead of manufacturing them as nested
  * transform/slice/struct arrays that are then flattened and exploded.
  *
  *  - `lb` NULL  → unordered within-`la` pairs: (la[i], la[j]) for i < j
  *    — exactly `transform(la, (x, i) -> transform(slice(la, i + 2,
  *    size(la)), y -> struct(x, y)))` flattened (the retained form
  *    DedupSpec's law test compares against).
  *  - `lb` non-null → the full cross product (la[i], lb[j]) — the
  *    chunked big-bucket branch's cross term.
  *
  * The HOF form allocated a sliced copy of the tail per anchor element
  * (O(n²) array copies per bucket) plus a struct row and a flatten copy
  * per pair; the generator emits each pair once with no intermediate
  * arrays. Output multiset is identical by construction — pair content
  * never changes, only its materialization.
  */
case class PairExplode(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(left, right)

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _))
        if DataType.equalsIgnoreNullability(a, b) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"pair_explode requires two arrays of one element type, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def elementSchema: StructType = StructType(Seq(
    StructField("a", elemType, nullable = true),
    StructField("b", elemType, nullable = true)))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val la = left.eval(input)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (la == null) return Iterator.empty
    val lb = right.eval(input)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val xs = la.toObjectArray(elemType)
    if (lb == null) {
      val n = xs.length
      (0 until n).iterator.flatMap { i =>
        (i + 1 until n).iterator.map { j =>
          org.apache.spark.sql.catalyst.InternalRow(xs(i), xs(j))
        }
      }
    } else {
      val ys = lb.toObjectArray(elemType)
      xs.iterator.flatMap { x =>
        ys.iterator.map(y => org.apache.spark.sql.catalyst.InternalRow(x, y))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(left = newChildren(0), right = newChildren(1))
}

object TextFunctions {
  /** `poly_hash31` / `sliding_min` / `minhash_sig` / `simhash_sig` /
    * `pair_explode` as (name, expression class, builder), each builder
    * argument-count checked. [[graft.plans.GraftExtensions]] injects
    * them into every session it extends.
    */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("poly_hash31", classOf[PolyHash31], Arity.checked("poly_hash31", 1, 1)(a => PolyHash31(a(0)))),
    ("sliding_min", classOf[SlidingMin], Arity.checked("sliding_min", 2, 2)(a => SlidingMin(a(0), a(1)))),
    ("minhash_sig", classOf[MinHashSig],
      Arity.checked("minhash_sig", 3, 3)(a => MinHashSig(a(0), a(1), a(2)))),
    ("simhash_sig", classOf[SimHashSig],
      Arity.checked("simhash_sig", 3, 3)(a => SimHashSig(a(0), a(1), a(2)))),
    ("pair_explode", classOf[PairExplode],
      Arity.checked("pair_explode", 2, 2)(a => PairExplode(a(0), a(1)))))

  /** Register the same functions as temporary functions, for a session
    * built without GraftExtensions; idempotent. Sessions from
    * [[graft.Session]] need no call. perfbench's kernel micro-bench
    * (`perfbench/src/perfbench/Kernels.scala`) still calls it.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }
}
