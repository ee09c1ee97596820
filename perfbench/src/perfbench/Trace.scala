package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Listener counters of one job group, i.e. one phase of one op. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, peakMem = 0L
  var inBytes, inRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var scanFiles, fanouts = 0L

  def add(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
    inBytes += o.inBytes; inRows += o.inRows
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    scanFiles += o.scanFiles; fanouts += o.fanouts
  }
}

/** One span: an op (parent −1) or one of its `construct` / `execute`
  * phases. All spans of one op share `trace`, the op's id.
  */
final case class Span(trace: Int, id: Int, parent: Int, name: String, module: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder: a SparkListener that files task, stage and
  * job counters under the job group of the call that caused them, a
  * QueryExecutionListener that files the Catalyst phase times, scanned
  * files and scan fan-out exchanges of each executed query under the
  * phase current when it finished, and the in-memory span list. Spans and
  * counters are written once, when the run ends.
  */
final class Recorder(sc: SparkContext) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var current: String = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0

  def counters(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)

  /** Run `body` as phase `group`: job group set for the calling thread,
    * listener bus drained afterwards so every event it caused is filed.
    */
  def phase[A](group: String)(body: => A): A = {
    current = group
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally { org.apache.spark.BusDrain(sc); sc.clearJobGroup() }
  }

  def span(trace: Int, parent: Int, name: String, module: String, s: Long, e: Long): Int = {
    nextSpan += 1
    spans += Span(trace, nextSpan, parent, name, module, s, e)
    nextSpan
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val c = counters(group)
      c.synchronized(c.jobs += 1)
      js.stageInfos.foreach(si => stageGroup.put(si.stageId, group))
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(sc.stageInfo.stageId)).foreach { g =>
      val c = counters(g); c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(te.stageId)).foreach { g =>
      val c = counters(g)
      c.synchronized {
        c.tasks += 1
        if (te.reason != org.apache.spark.Success) c.failedTasks += 1
        Option(te.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
          c.inBytes += m.inputMetrics.bytesRead
          c.inRows += m.inputMetrics.recordsRead
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = counters(current)
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val files = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case b: BatchScanExec => b.scan match {
        case f: FileScan => f.fileIndex.inputFiles.length.toLong
        case _ => 0L
      }
    }.sum
    val fanouts = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => 1L
    }.sum
    c.synchronized {
      c.analysisMs += ms("analysis"); c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning"); c.scanFiles += files; c.fanouts += fanouts
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters summed over the groups whose name starts with `prefix`. */
  def total(prefix: String): Counters = {
    val t = new Counters
    groups.forEach((g, c) => if (g.startsWith(prefix)) t.add(c))
    t
  }

  def spanJson: Seq[String] = {
    val byParent = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => k.endNs - k.startNs).sum
      val c = if (s.parent < 0) None else Some(counters(s"${s.trace}/${s.name}"))
      val extra = c.map(c => f""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        f""""cpu_s":${c.cpuNs / 1e9}%.4f,"shuffle_write_b":${c.shuffleWrite},"input_b":${c.inBytes}""").getOrElse("")
      f"""{"trace":${s.trace},"span":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""module":"${s.module}","start_s":${s.startNs / 1e9}%.6f,"dur_s":${s.seconds}%.6f,""" +
        f""""self_s":${(s.endNs - s.startNs - kids) / 1e9}%.6f$extra}"""
    }
  }
}
