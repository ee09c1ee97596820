package graft.tools

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The one profiling / plan tool, run in the bench's own session
  * ([[graft.Session]]) so every reading is of the plans the bench times:
  *
  * `Probe <time|stages|plan|shuffles> <q1,q2,...|all> [sfDir]`
  *
  *   - `time`: one untimed warm-up, then the minimum of 3 runs, each
  *     the query's construction (its eager jobs: checkpoints, CC
  *     rounds, store writes) plus a noop write, printed as the total and
  *     its two parts (cache cleared and GC run after each, as in the
  *     bench).
  *   - `stages`: a warm-up, then one instrumented run printing each
  *     stage's executor-run time, input/shuffle volumes, task count and
  *     slowest task (construction's eager stages included), and the
  *     wall split as in `time` — executor runtime attributes cost to the
  *     right side of each exchange, which wall-clock timings cannot.
  *   - `plan`: the formatted physical plan (`explain("formatted")`).
  *   - `shuffles`: the shuffle-exchange count of the initial physical
  *     plan, the figure `ShuffleBudgetSpec` pins.
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`. A/B runs pass Spark
  * settings as JVM flags (`tools/run_tool.sh -Dspark.sql.… graft.tools.Probe …`);
  * they apply to every setting the session factory does not fix.
  */
object Probe {
  private val usage = "usage: Probe <time|stages|plan|shuffles> <q1,q2,...|all> [sfDir]"

  /** Shuffle exchanges in `df`'s initial physical plan. Broadcast
    * exchanges are excluded on purpose: they are the cheap alternative
    * the shuffle budgets push plans toward.
    */
  def shuffleExchanges(df: DataFrame): Int =
    "(?m)^\\s*[+:|\\- ]*Exchange ".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 &&
      Set("time", "stages", "plan", "shuffles").contains(args(0)), usage)
    val mode = args(0)
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(s"$usage (or set SPARK_GRAFT_SF_DIR)"))
    val names =
      if (args(1) == "all") graft.SparkEntry.all.map(_.name).sorted
      else args(1).split(",").toSeq.filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // same startup hygiene as Bench: rm dead-session orphans directly,
    // then scope settle's gauge to this session's own debris
    if (mode == "stages") Reclaim.beforeSession()
    val spark = graft.Session.local()
    try names.foreach { name =>
      val query = () => graft.SparkEntry.queries(name)(spark, sfDir)
      try mode match {
        case "time" => time(spark, name, query)
        case "stages" => stages(spark, name, query)
        case "plan" =>
          println(s"=== $name ===")
          println(query().queryExecution.explainString(FormattedMode))
        case "shuffles" => println(s"[shuffle] $name ${shuffleExchanges(query())}")
      } catch { case NonFatal(e) =>
        System.err.println(s"# $name: FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    } finally spark.stop()
  }

  /** Wall seconds of building `query` — the eager jobs it runs while
    * constructing its DataFrame included — and of one full execution of
    * the result (a noop write runs the whole physical plan, top-level
    * sorts included, without output).
    */
  private[graft] def constructAndWrite(query: () => DataFrame): (Double, Double) = {
    val t0 = System.nanoTime()
    val df = query()
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  private def time(spark: SparkSession, name: String, query: () => DataFrame): Unit = {
    def run(): (Double, Double) = {
      val dt = constructAndWrite(query)
      spark.catalog.clearCache()
      System.gc()
      dt
    }
    def total(r: (Double, Double)): Double = r._1 + r._2
    val warm = run()
    val reps = Seq.fill(3)(run())
    val best = reps.minBy(total)
    println(f"[time] $name min ${total(best)}%.2f s (construct ${best._1}%.2f + write ${best._2}%.2f)  reps " +
      reps.map(r => f"${total(r)}%.2f").mkString(" ") + f"  (warm-up ${total(warm)}%.2f)")
  }

  private def stages(spark: SparkSession, name: String, query: () => DataFrame): Unit = {
    constructAndWrite(query) // warm-up, unrecorded
    // reclaim the warm-up's shuffle debris before the instrumented run:
    // two back-to-back heavy runs at scale can stack past the disk
    spark.catalog.clearCache()
    val left = Reclaim.settle(floorBytes = 4L << 30)
    System.err.println(f"# post-warm-up debris: ${left / 1e9}%.1f GB")
    val stages = mutable.ArrayBuffer[(Int, Double, Double, Long, Long, Long, String)]()
    // per-stage task skew: count + max single-task runtime (a stage
    // whose wall ≈ its max task is a straggler, not a volume problem)
    val taskMax = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Double)]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val dt = Option(e.taskMetrics).map(_.executorRunTime / 1e3).getOrElse(0.0)
        taskMax.merge(e.stageId, (1, dt),
          (a, b) => (a._1 + b._1, math.max(a._2, b._2))): Unit
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.synchronized {
          stages += ((i.stageId,
            m.executorRunTime / 1e3,
            (for { s <- i.submissionTime; c <- i.completionTime } yield (c - s) / 1e3)
              .getOrElse(-1.0),
            m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            i.name.take(90))): Unit
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (construct, write) = try constructAndWrite(query) finally {
      Thread.sleep(500) // listener bus drains asynchronously
      spark.sparkContext.removeSparkListener(listener)
    }
    println(f"[stages] $name wall=${construct + write}%.2f s (construct ${construct}%.2f + " +
      f"write ${write}%.2f; 1 instrumented run after warm-up)")
    println("[stages] stage  execRun(s)  wall(s)  input(MB)  shufRead(MB)  shufWrite(MB)  tasks  maxTask(s)  name")
    val snap = stages.synchronized(stages.sortBy(_._1).toVector)
    snap.foreach { case (id, er, w, in, sr, sw, nm) =>
      val (nt, mx) = Option(taskMax.get(id)).getOrElse((0, 0.0))
      println(f"[stages] $id%5d  ${er}%9.2f  ${w}%7.2f  ${in / 1e6}%9.1f  " +
        f"${sr / 1e6}%12.1f  ${sw / 1e6}%13.1f  $nt%5d  ${mx}%9.2f  $nm")
    }
    val totalExec = snap.map(_._2).sum
    val shuffleExec = snap.filter(t => t._5 > 0).map(_._2).sum
    println(f"[stages] total executor-run=${totalExec}%.2f s across " +
      f"${snap.size} stages; stages reading a shuffle account for " +
      f"${shuffleExec}%.2f s")
    spark.catalog.clearCache()
  }
}
