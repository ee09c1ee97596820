package graft.tensor

import graft.ops.MinUnionFind

import org.apache.spark.sql.{GraftSql, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the reference's ragged-tensor encoding:
  * a logical N-d tensor stored as a flattened 1-D array column plus a
  * sibling `_shape` array column (/root/reference/dlmerged2parquet.py:271-279,
  * decode at readparquet.py:25-31). These are the only genuinely custom
  * pieces of the engine (SURVEY.md §2.12); everything else is built-ins.
  *
  * Sessions get them as SQL functions (`tensor_explode`, `tensor_reshape`,
  * `voxel_components`) from [[graft.plans.GraftExtensions]].
  */

/** `tensor_explode(data, shape, aligned…)` — emit one row
  * `(idx, slice, aligned_0[idx], …)` per first-axis slice of the tensor:
  * the relational inverse of the flatten+shape encoding, converting
  * per-cell tensors into long-form rows that joins/filters/aggregations
  * can address positionally.
  *
  * `slice` keeps the remaining axes flattened (its logical shape is
  * `shape[1:]`), so nested explodes recover deeper axes.
  *
  * Each optional `aligned` array (a per-point label column) yields its
  * element `idx` as a scalar output, with exactly the semantics of
  * `element_at(aligned, idx + 1)` under the session's ANSI setting: a
  * null array gives NULL, and an array shorter than the first axis
  * raises `INVALID_ARRAY_INDEX_IN_ELEMENT_AT` (ANSI) or gives NULL. So
  * label arrays ride the generator instead of being copied into every
  * exploded row as child output (SURVEY.md §7.4: never explode parallel
  * arrays independently).
  */
case class TensorExplode(data: Expression, shape: Expression, aligned: Seq[Expression] = Nil,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = data +: shape +: aligned

  override def checkInputDataTypes(): TypeCheckResult =
    (data.dataType, shape.dataType) match {
      case (ArrayType(_, _), ArrayType(LongType | IntegerType, _)) =>
        aligned.find(!_.dataType.isInstanceOf[ArrayType]) match {
          case Some(a) => TypeCheckResult.TypeCheckFailure(
            s"tensor_explode: aligned arguments must be arrays, got ${a.dataType.simpleString}")
          case None => TypeCheckResult.TypeCheckSuccess
        }
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"tensor_explode requires (array<T>, array<long>), got " +
            s"(${data.dataType.simpleString}, ${shape.dataType.simpleString})")
    }

  private def alignedType(a: Expression): DataType = a.dataType.asInstanceOf[ArrayType].elementType

  override def elementSchema: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("slice", data.dataType, nullable = true)) ++
    aligned.zipWithIndex.map { case (a, k) => StructField(s"aligned$k", alignedType(a), nullable = true) })

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = data.eval(input).asInstanceOf[ArrayData]
    val shp = shape.eval(input).asInstanceOf[ArrayData]
    if (arr == null || shp == null || shp.numElements() == 0) return Iterator.empty
    val elemType = data.dataType.asInstanceOf[ArrayType].elementType
    val dims = TensorExplode.longs(shp, shape.dataType)
    val n = dims(0).toInt
    val stride = if (dims.length > 1) dims.drop(1).product.toInt else 1
    require(arr.numElements() == n * stride,
      s"tensor_explode: data length ${arr.numElements()} != shape product ${n * stride}")
    val elems = arr.toObjectArray(elemType)
    val labels = aligned.map(_.eval(input).asInstanceOf[ArrayData]).toArray
    val labelTypes = aligned.map(alignedType).toArray
    Iterator.tabulate(n) { i =>
      val row = new Array[Any](2 + labels.length)
      row(0) = i
      row(1) = new GenericArrayData(java.util.Arrays.copyOfRange(elems, i * stride, (i + 1) * stride))
      var k = 0
      while (k < labels.length) {
        val a = labels(k)
        row(2 + k) =
          if (a == null) null
          else if (i < a.numElements()) { if (a.isNullAt(i)) null else a.get(i, labelTypes(k)) }
          else if (failOnError) throw GraftSql.elementAtIndexError(i + 1, a.numElements())
          else null
        k += 1
      }
      new GenericInternalRow(row)
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(data = newChildren(0), shape = newChildren(1), aligned = newChildren.drop(2))
}

object TensorExplode {
  /** An integral array's elements widened to Long. */
  private[tensor] def longs(a: ArrayData, t: DataType): Array[Long] =
    t.asInstanceOf[ArrayType].elementType match {
      case IntegerType => a.toIntArray().map(_.toLong)
      case _ => a.toLongArray()
    }
}

/** `voxel_components(coord, shape, label)` — the 6-connected components
  * of ONE event's non-ghost voxels, found inside the row: the
  * reference's per-event dense-array flood fill
  * (voxel_to_instance_data.py's cluster step) as an in-memory
  * union-find over the event's sparse voxel list. Components never
  * cross events, so no join, shuffle or iteration is needed.
  *
  * `coord` is an N×3 integral coordinate tensor (`shape` = [N, 3]) and
  * `label` its per-voxel label; voxels with label 1 take part. Output is
  * aligned with the voxels: for each taking part it is the smallest
  * packed id `ix·2^22 + iy·2^11 + iz` of its component (an isolated
  * voxel labels itself), and NULL for ghosts, voxels with a null
  * coordinate, and voxels outside the packable range `[0, 2047)` per
  * axis, which the caller rejects. Duplicate coordinates share one
  * cell. The ids equal the minimum-vertex labels of
  * [[graft.ops.GraphOps.connectedComponents]] over the same adjacency.
  */
case class VoxelComponents(coord: Expression, shape: Expression, label: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(coord, shape, label)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType match {
      case ArrayType(LongType | IntegerType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "voxel_components requires three integral arrays (coord, shape, label), got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  override def eval(input: InternalRow): Any = {
    val c = coord.eval(input).asInstanceOf[ArrayData]
    val shp = shape.eval(input).asInstanceOf[ArrayData]
    if (c == null || shp == null) return null
    val dims = TensorExplode.longs(shp, shape.dataType)
    require(dims.length == 2 && dims(1) == 3 && c.numElements() == dims(0) * 3,
      s"voxel_components: expected an N×3 coordinate tensor, got shape " +
        s"${dims.mkString("[", ",", "]")} over ${c.numElements()} values")
    val n = dims(0).toInt
    val lab = label.eval(input).asInstanceOf[ArrayData]
    val labType = label.dataType.asInstanceOf[ArrayType].elementType
    val coordType = coord.dataType.asInstanceOf[ArrayType].elementType
    def at(a: ArrayData, t: DataType, i: Int): Long =
      if (t == IntegerType) a.getInt(i).toLong else a.getLong(i)
    val ids = Array.tabulate(n) { i =>
      val live = lab != null && i < lab.numElements() && !lab.isNullAt(i) && at(lab, labType, i) == 1L &&
        (0 until 3).forall(d => !c.isNullAt(3 * i + d))
      if (live) VoxelComponents.pack(at(c, coordType, 3 * i), at(c, coordType, 3 * i + 1),
        at(c, coordType, 3 * i + 2))
      else -1L
    }
    val comp = VoxelComponents.minIds(ids)
    new GenericArrayData(comp.map(v => if (v < 0) null else v: Any))
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(coord = newChildren(0), shape = newChildren(1), label = newChildren(2))
}

object VoxelComponents {
  /** Coordinates must lie in `[0, Limit)`: at 2047 a +1 neighbor would no
    * longer fit its 11-bit field. */
  final val Limit = 2047L
  private val Steps = Array(1L << 22, 1L << 11, 1L)

  /** Packed in-event id `ix·2^22 + iy·2^11 + iz`, or −1 outside `[0, Limit)`. */
  def pack(x: Long, y: Long, z: Long): Long =
    if (x < 0 || x >= Limit || y < 0 || y >= Limit || z < 0 || z >= Limit) -1L
    else (x << 22) | (y << 11) | z

  /** For each packed id (−1 = not taking part) the smallest id of its
    * 6-connected component, −1 where the input is −1. Union-find over the
    * sorted distinct cells; a neighbor is found by binary search for
    * `id + 2^22 / 2^11 / 1`, which cannot carry into the next field while
    * every coordinate is below 2047. [[graft.ops.MinUnionFind]]'s roots
    * are the smaller index, so a root is its component's minimum id.
    */
  def minIds(ids: Array[Long]): Array[Long] = {
    val cells = ids.filter(_ >= 0).distinct.sorted
    val uf = new MinUnionFind(cells.length)
    for (k <- cells.indices; step <- Steps) {
      val j = java.util.Arrays.binarySearch(cells, cells(k) + step)
      if (j >= 0) uf.union(k, j)
    }
    ids.map(v => if (v < 0) -1L else cells(uf.find(java.util.Arrays.binarySearch(cells, v))))
  }
}

/** `tensor_reshape(data, shape)` — reshape a flattened tensor into nested
  * arrays (row-major), matching the reference's full-shape decode
  * (`np.array(d).reshape(shape)`, readparquet.py:25-31).
  *
  * Two forms:
  *  - `tensor_reshape(data, ncols)` — 2-D convenience: nest into rows of
  *    `ncols` (the trailing axis). `ncols` may vary per row.
  *  - `tensor_reshape(data, array(d0, d1, ..., dn))` — rank-N: the shape
  *    vector must be FOLDABLE (a literal), because the output's nesting
  *    depth is part of the static Catalyst type. Per-row dynamic shapes
  *    with a fixed leading axis are served by `tensor_explode`, which
  *    accepts a shape column.
  *
  * Pure metadata + validation; no data movement beyond the nesting.
  */
case class TensorReshape(data: Expression, shape: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(data, shape)
  override def nullable: Boolean = true

  /** Static shape vector when the rank-N form is used (foldable array). */
  private lazy val staticDims: Option[Array[Long]] = shape.dataType match {
    case ArrayType(_, _) if shape.foldable =>
      Option(shape.eval().asInstanceOf[ArrayData]).map(TensorExplode.longs(_, shape.dataType))
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    import TypeCheckResult._
    (data.dataType, shape.dataType) match {
      case (ArrayType(_, _), IntegerType | LongType) => TypeCheckSuccess
      case (ArrayType(_, _), ArrayType(IntegerType | LongType, _)) =>
        if (!shape.foldable)
          TypeCheckFailure("tensor_reshape: a shape VECTOR must be foldable " +
            "(the nesting depth is part of the static type); use tensor_explode " +
            "for per-row dynamic shapes")
        else if (staticDims.exists(d => d.isEmpty || d.exists(_ <= 0)))
          TypeCheckFailure(s"tensor_reshape: invalid shape ${staticDims.get.mkString("[", ",", "]")}")
        else TypeCheckSuccess
      case _ => TypeCheckFailure(
        s"tensor_reshape requires (array<T>, integral | array<integral>), got " +
          s"(${data.dataType.simpleString}, ${shape.dataType.simpleString})")
    }
  }

  override def dataType: DataType = staticDims match {
    // rank-N: nesting depth == rank (data is already depth 1)
    case Some(dims) =>
      (1 until dims.length).foldLeft(data.dataType)((t, _) => ArrayType(t, containsNull = true))
    case None => ArrayType(data.dataType, containsNull = true)
  }

  private def nest(elems: Array[AnyRef], dims: Array[Long]): Any =
    if (dims.length == 1) new GenericArrayData(elems)
    else {
      val stride = dims.drop(1).product.toInt
      new GenericArrayData(
        elems.grouped(stride).map(g => nest(g, dims.tail)).toArray)
    }

  override def eval(input: InternalRow): Any = {
    val arr = data.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return null
    val elemType = data.dataType.asInstanceOf[ArrayType].elementType
    val elems = arr.toObjectArray(elemType).asInstanceOf[Array[AnyRef]]
    staticDims match {
      case Some(dims) =>
        require(arr.numElements() == dims.product,
          s"tensor_reshape: data length ${arr.numElements()} != " +
            s"shape product ${dims.product} for ${dims.mkString("[", ",", "]")}")
        if (dims.length == 1) arr else nest(elems, dims)
      case None =>
        val k = shape.eval(input) match {
          case i: Int => i
          case l: Long => l.toInt
          case null => return null
        }
        require(k > 0 && arr.numElements() % k == 0,
          s"tensor_reshape: length ${arr.numElements()} not divisible by $k")
        new GenericArrayData(elems.grouped(k).map(g => new GenericArrayData(g)).toArray)
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(data = newChildren(0), shape = newChildren(1))
}

object TensorFunctions {
  /** The tensor SQL functions as (name, expression class, builder), each
    * builder argument-count checked. [[graft.plans.GraftExtensions]]
    * injects them into every session it extends.
    */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("tensor_explode", classOf[TensorExplode],
      Arity.checked("tensor_explode", 2, Int.MaxValue)(a => TensorExplode(a(0), a(1), a.drop(2)))),
    ("tensor_reshape", classOf[TensorReshape],
      Arity.checked("tensor_reshape", 2, 2)(a => TensorReshape(a(0), a(1)))),
    ("voxel_components", classOf[VoxelComponents],
      Arity.checked("voxel_components", 3, 3)(a => VoxelComponents(a(0), a(1), a(2)))))

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
