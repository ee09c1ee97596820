package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, GraftRowBuffer, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Whole-operator Catalyst extension (SURVEY §2.12, the (c) path of the
  * custom-operator preference order): a SORTED INTERVAL JOIN —
  * `left ⋈ right ON l.key = r.key AND r.ts ∈ [l.ts + lo, l.ts + hi]` —
  * as a custom LogicalPlan + SparkStrategy + physical SparkPlan,
  * registered through [[GraftExtensions]].
  *
  * WHY a custom operator: the declarative form (equi-join on key with the
  * time range as a residual filter — st3_interval_join) is correct and
  * fine when per-key cardinality is modest, but its inner loop is
  * O(P_k · E_k) for every key k (each purchase row scans ALL of the
  * user's error rows, then filters). This operator requires both children
  * hash-clustered on the key and sorted by (key, ts) — exactly what
  * EnsureRequirements provides, like a sort-merge join — and sweeps each
  * key once with a monotone window-start pointer: O(P_k + E_k + output).
  * On a skewed key (one user with 100k events each side) that is the
  * difference between 10^10 probes and a linear pass — the same reason
  * production SQL engines ship native range joins.
  *
  * Memory bound: the right-side rows of the CURRENT key are held in a
  * spill-capable [[GraftRowBuffer]] (Spark's own
  * `ExternalAppendOnlyUnsafeRowArray`, the structure sort-merge join uses
  * for its duplicate-key match buffer) governed by the SMJ thresholds
  * `spark.sql.sortMergeJoinExec.buffer.{in.memory,spill}.threshold` — a
  * hot key (a bot user with tens of millions of events inside the window)
  * degrades to disk instead of OOMing the executor. Replaying a spilled
  * buffer from the window-start index costs a linear skip per left row,
  * the identical contract to SMJ's spilled match-buffer replay.
  *
  * Join types: INNER (null keys/timestamps match nothing) and LEFT OUTER
  * (every left row preserved; unmatched or null-keyed left rows emit one
  * null-padded output row, per SQL LEFT JOIN semantics).
  *
  * Scope contract (checked at construction): key is any ORDERABLE type
  * with identical types both sides (the sweep compares keys through the
  * type's interpreted ordering — string user ids are as common as
  * numeric ones), timestamps are TimestampType/LongType (micros),
  * offsets in micros. IntervalJoinSpec pins equality with the
  * declarative plan on real data and on adversarial random fixtures
  * (both join types, long and string keys), spill-threshold behavior on
  * a hot key, and that the physical plan contains no residual-filtered
  * nested loop.
  */
case class IntervalJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    loMicros: Long, hiMicros: Long,
    joinType: JoinType = Inner) extends BinaryNode {
  override def output: Seq[Attribute] = joinType match {
    case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
    case _ => left.output ++ right.output
  }
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinPlan(l, r, lk, rk, lt, rt, lo, hi, jt) =>
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, lo, hi, jt) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    loMicros: Long, hiMicros: Long,
    joinType: JoinType) extends BinaryExecNode {

  override def output: Seq[Attribute] = joinType match {
    case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
    case _ => left.output ++ right.output
  }

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // hash-clustered on the key, co-partitioned; sorted by (key, ts) —
  // EnsureRequirements inserts the exchanges/sorts exactly as for SMJ
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numBufferedRows" -> SQLMetrics.createMetric(sparkContext,
      "right rows buffered (total across keys)"),
    "peakBufferedRows" -> SQLMetrics.createMetric(sparkContext,
      "peak right rows buffered in one key (per-task max; driver total sums tasks)"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext,
      "bytes spilled by the right-side key buffer"))

  protected override def doExecute(): RDD[InternalRow] = {
    val outRows = longMetric("numOutputRows")
    val bufRows = longMetric("numBufferedRows")
    val peakRows = longMetric("peakBufferedRows")
    val spillSize = longMetric("spillSize")
    val lo = loMicros
    val hi = hiMicros
    val out = output
    val lOut = left.output
    val rOut = right.output
    val lk = leftKey
    val rk = rightKey
    val lt = leftTs
    val rt = rightTs
    val leftOuter = joinType == LeftOuter
    // SMJ's own buffer thresholds govern the per-key buffer: rows in heap
    // up to the in-memory threshold, then task-managed pages, then disk.
    val inMemThreshold = conf.sortMergeJoinExecBufferInMemoryThreshold
    val spillThreshold = conf.sortMergeJoinExecBufferSpillThreshold
    val spillSizeThreshold = conf.sortMergeJoinExecBufferSpillSizeThreshold
    left.execute().zipPartitions(right.execute()) { (lIter0, rIter0) =>
      val lKeyEval = BindReferences.bindReference(lk, lOut)
      val lTsEval = BindReferences.bindReference(lt, lOut)
      val rKeyEval = BindReferences.bindReference(rk, rOut)
      val rTsEval = BindReferences.bindReference(rt, rOut)
      val keyOrd = TypeUtils.getInterpretedOrdering(lk.dataType)
      val joiner = new JoinedRow
      val resultProj = UnsafeProjection.create(out, out)
      // the buffer stores UnsafeRows; child rows after the required sort
      // usually are already, but project defensively (identity layout)
      val toUnsafe = UnsafeProjection.create(rOut, rOut)
      val nullRight = new GenericInternalRow(rOut.size) // all-null pad row
      val keyBuf = new GraftRowBuffer(inMemThreshold, spillThreshold, spillSizeThreshold)
      val tc = TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
        spillSize += keyBuf.spillSizeBytes
        keyBuf.clear() // releases task memory + deletes spill files
      }
      val lBuf = lIter0
      val rBuf = rIter0.buffered
      new Iterator[InternalRow] {
        private var haveKey = false
        private var curKey: Any = null
        private var taskPeak = 0L
        private var lRow: InternalRow = _
        private var lTsV = 0L
        // monotone window-start pointer within a key: rows before `start`
        // are below every remaining left row's lower bound (left ts asc)
        private var start = 0
        private var rIt: Iterator[UnsafeRow] = _ // scan for the current left row
        private var scanning = false
        private var lMatched = false
        // positioned output: candidate right row, or a null pad (left outer)
        private var candidate: InternalRow = _
        private var padRight = false
        private var positioned = false

        private def loadKey(k: Any): Unit = {
          keyBuf.clear()
          var done = false
          while (!done && rBuf.hasNext) {
            val hk = rKeyEval.eval(rBuf.head)
            if (hk == null) { rBuf.next() } // null keys match nothing
            else {
              val c = keyOrd.compare(hk, k)
              if (c < 0) rBuf.next()
              else if (c == 0) {
                val r = rBuf.next()
                // null ts matches nothing; add() copies/spills the row, so
                // passing the child's reused buffer is safe
                if (rTsEval.eval(r) != null) { keyBuf.add(toUnsafe(r)); bufRows += 1 }
              } else done = true
            }
          }
          // copy the key value — for types like UTF8String, eval returns a
          // view into the child's reused row buffer
          curKey = InternalRow.copyValue(k); haveKey = true; start = 0
          if (keyBuf.length > taskPeak) {
            taskPeak = keyBuf.length
            peakRows.set(taskPeak)
          }
        }

        /** Position the next output WITHOUT materializing a row —
          * materialization happens only in next(), into the reused
          * projection buffer, per the iterator-row-reuse contract. (A
          * lookahead that projected eagerly would clobber the row the
          * consumer is still holding.)
          */
        private def findNext(): Boolean = {
          while (true) {
            if (scanning) {
              // sweep the current left row's window [lTsV+lo, lTsV+hi]:
              // rows are ts-ascending, so the scan is below-window rows
              // (advance `start`), then matches, then one past-window row
              var live = true
              while (live && rIt.hasNext) {
                val r = rIt.next()
                val ts = rTsEval.eval(r).asInstanceOf[Long] // nulls filtered at load
                if (ts < lTsV + lo) start += 1
                else if (ts <= lTsV + hi) {
                  candidate = r; padRight = false; lMatched = true
                  return true
                } else live = false
              }
              scanning = false
              if (leftOuter && !lMatched) { padRight = true; return true }
            }
            if (!lBuf.hasNext) return false
            lRow = lBuf.next()
            val k = lKeyEval.eval(lRow)
            val ts = lTsEval.eval(lRow)
            lMatched = false
            if (k == null || ts == null) {
              // matches nothing; LEFT OUTER still preserves the row
              if (leftOuter) { padRight = true; return true }
            } else {
              lTsV = ts.asInstanceOf[Long]
              if (!haveKey || keyOrd.compare(k, curKey) != 0) loadKey(k)
              // a spilled buffer replays with a linear skip to `start`,
              // the same replay contract as SMJ's spilled match buffer
              rIt = keyBuf.generateIterator(start)
              scanning = true
            }
          }
          false // unreachable
        }

        override def hasNext: Boolean =
          positioned || { positioned = findNext(); positioned }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty interval-join iterator")
          positioned = false
          val r = if (padRight) nullRight else candidate
          val res = resultProj(joiner(lRow, r))
          outRows += 1
          res
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API: `IntervalJoin.join(left, right, "user_id", "user_id",
  * "pts", "ets", lo, hi)` — requires [[IntervalJoinStrategy]] in the
  * session (register once at session setup via [[GraftExtensions]]:
  * [[graft.Session]]`.local()`, `.withExtensions(new GraftExtensions)` on
  * any other builder, or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`; without it
  * planning fails with "No plan for IntervalJoinPlan").
  */
object IntervalJoin {
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      loMicros: Long, hiMicros: Long, joinType: String = "inner"): DataFrame = {
    val jt = JoinType(joinType)
    require(jt == Inner || jt == LeftOuter,
      s"interval join supports inner and left_outer, got $joinType")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    val (lk, rk) = (attr(lPlan, leftKey), attr(rPlan, rightKey))
    val (lt, rt) = (attr(lPlan, leftTs), attr(rPlan, rightTs))
    // self-join guard: the identity output projection binds by exprId, so
    // a shared attribute (both sides derived from one DataFrame without
    // re-aliasing) would silently read the LEFT side's values for the
    // right column. Dataset.join dedups during analysis; this API
    // bypasses analysis, so it must refuse instead.
    val shared = lPlan.outputSet.intersect(rPlan.outputSet)
    require(shared.isEmpty,
      s"interval join sides share attributes ${shared.toSeq.map(_.name).mkString(", ")} — " +
        "re-alias one side (e.g. .toDF(renamed columns...)) before joining")
    require(lk.dataType == rk.dataType,
      s"interval join keys must have matching types, got ${lk.dataType}/${rk.dataType}")
    require(org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(lk.dataType),
      s"interval join key type ${lk.dataType} is not orderable")
    Seq(lt, rt).foreach(a => require(
      a.dataType == TimestampType || a.dataType == LongType,
      s"interval join timestamps must be TimestampType or LongType, got ${a.dataType}"))
    GraftSql.ofRows(left.sparkSession,
      IntervalJoinPlan(lPlan, rPlan, lk, rk, lt, rt, loMicros, hiMicros, jt))
  }
}
