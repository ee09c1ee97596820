package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile (nearest rank, at least p50) with at
    * least ten samples above it, and its value.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) return (50, 0.0)
    val p = math.max(50, math.floor(100.0 * (n - 10) / n).toInt)
    (p, s(math.max(1, math.ceil(p / 100.0 * n).toInt) - 1))
  }
}

/** The session every op runs in: graft.Bench's configuration on
  * `local[N]`, N = available cores.
  */
object BenchSession {
  val cores: Int = Runtime.getRuntime.availableProcessors

  def create(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("graft.scan.fanout", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Benchmark entry point: one workload, one JVM, one closed-loop client.
  *
  * Set-up (session start, the median of three input preparations, the
  * warm-up and the output checks) is timed as `setup_s`; then whole
  * passes over the workload's ops run until at least `--seconds` have
  * been measured. With `--trace 1` one more pass runs under the recorder,
  * followed by the kernel micro-bench, and the per-layer metrics are
  * reported instead of the end-to-end ones. The last stdout line is the
  * result object.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, expected: String, work: String, pin: Option[String])

  final case class Timing(id: Int, op: Op, constructS: Double, executeS: Double) {
    def seconds: Double = constructS + executeS
  }

  final case class Pass(timings: Seq[Timing], failures: Seq[Failure], wallS: Double, attempted: Int) {
    def writeS: Double = timings.filter(_.op.write).map(_.seconds).sum
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("expected"), need("work"), m.get("pin"))
  }

  private def secondsOf[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val (spark, sessionS) = secondsOf(BenchSession.create(a.work))
    try run(spark, a, sessionS)
    finally spark.stop()
  }

  private var nextOp = 0

  /** One pass in the closed loop: each op starts when the previous returns. */
  private def pass(spark: SparkSession, wl: Workload, rec: Option[Recorder]): (Pass, Seq[Op]) = {
    val ops = wl.pass()
    val timings = mutable.ArrayBuffer.empty[Timing]
    val failures = mutable.ArrayBuffer.empty[Failure]
    def phase(group: String)(body: => Unit): (Long, Long) = rec match {
      case None => val s = System.nanoTime(); body; (s, System.nanoTime())
      case Some(r) => r.phase(group) { val s = System.nanoTime(); body; (s, System.nanoTime()) }
    }
    val t0 = System.nanoTime()
    var cleanNs = 0L // the harness's cache clears and collections, kept out of the pass wall time
    ops.foreach { op =>
      // as graft.Bench does between queries, so no op pays for the
      // cached data or garbage the previous one left
      val g = System.nanoTime()
      spark.catalog.clearCache()
      System.gc()
      cleanNs += System.nanoTime() - g
      nextOp += 1
      val id = nextOp
      try {
        val (cs, ce) = phase(s"$id/construct")(op.construct())
        val (es, ee) = phase(s"$id/execute")(op.execute())
        rec.foreach { r =>
          val top = r.span(id, -1, op.name, op.module, cs, ee)
          r.span(id, top, "construct", op.module, cs, ce)
          r.span(id, top, "execute", op.module, es, ee)
        }
        timings += Timing(id, op, (ce - cs) / 1e9, (ee - es) / 1e9)
        System.err.println(f"[perfbench] ${op.name}%-28s ${(ce - cs) / 1e9}%8.3f + ${(ee - es) / 1e9}%8.3f s")
      } catch {
        case NonFatal(e) => failures += Failure(op.name, "pass", e)
      }
    }
    (Pass(timings.toSeq, failures.toSeq, (System.nanoTime() - t0 - cleanNs) / 1e9, ops.size), ops)
  }

  private def run(spark: SparkSession, a: Args, sessionS: Double): Unit = {
    a.pin.foreach { out =>
      val tables = new java.io.File(a.data).list().toSeq.filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).sorted
      return Mix.pin(spark, a.data, out, tables)
    }
    val wl: Workload = a.workload match {
      case "mix_sf0.1" => new Mix(spark, a.seed, a.data, a.expected)
      case "event_tensors" => new EventTensors(spark, a.seed, s"${a.work}/events", EventTensors.Full)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val prepared = Seq.fill(3)(secondsOf(wl.prepare()))
    val prepareS = Stats.median(prepared.map(_._2))
    val (warmFailures, warmS) = secondsOf(wl.warmup())

    val passes = mutable.ArrayBuffer.empty[Pass]
    var lastOps: Seq[Op] = Nil
    val t0 = System.nanoTime()
    do {
      val (p, ops) = pass(spark, wl, None)
      passes += p
      lastOps = ops
    } while ((System.nanoTime() - t0) / 1e9 < a.seconds)
    val (stored, _) = Disk.usage(wl.outputRoots)
    val peakRss = Disk.peakRssBytes
    val (checkFailures, checkS) = secondsOf(wl.checkOutputs(lastOps))

    // the traced pass: spans and listener counters, then the kernel micro-bench
    val traced = if (!a.trace) None else {
      val rec = new Recorder(spark.sparkContext)
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val (p, _) = pass(spark, wl, Some(rec))
      val files = Disk.usage(wl.outputRoots)._2
      val kernels = Kernels.run(spark)
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
      val path = s"${a.work}/trace-${a.workload}-${a.seed}.jsonl"
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        rec.spanJson.mkString("", "\n", "\n").getBytes("UTF-8"))
      Some((rec, p, files, kernels, path))
    }
    val all = passes.toSeq ++ traced.map(_._2)

    val failures = prepared.head._1 ++ warmFailures ++ all.flatMap(_.failures) ++ checkFailures
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    System.err.println(f"[perfbench] session $sessionS%.2f s, prepare ${prepared.map(_._2).mkString(" ")} s, " +
      f"warm-up $warmS%.2f s, checks $checkS%.2f s")
    val attempted = all.map(_.attempted).sum
    val failed = math.min(attempted, failures.size)
    val reads = passes.toSeq.flatMap(_.timings.filterNot(_.op.write).map(_.seconds))
    val (tailP, tailS) = Stats.tail(reads)
    val wallS = Stats.median(passes.map(_.wallS).toSeq)
    val setupS = sessionS + prepareS + warmS + checkS

    val e2e = Seq[(String, (Double, String))](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallS, "s"),
      "read_p50_s" -> (Stats.median(reads), "s"),
      "read_tail_s" -> (tailS, "s"),
      "write_s" -> (Stats.median(passes.map(_.writeS).toSeq), "s"),
      "stored_mb" -> (stored / 1e6, "MB"),
      "peak_rss_mb" -> (peakRss / 1e6, "MB"))
    println(s"# ${a.workload} seed ${a.seed}: ${wl.describe}")
    println(f"# ${passes.size} timed pass(es) of ${passes.head.attempted} ops, ${reads.size} read samples; " +
      f"read_tail_s is p$tailP; failed_share ${failed.toDouble / attempted}%.4f ($failed of $attempted ops)")
    println("# " + e2e.map { case (k, (v, u)) => f"$k=$v%.4f $u" }.mkString("  ") +
      f"  failed_share=${failed.toDouble / attempted}%.4f")
    val metrics = traced match {
      case None => e2e
      case Some((rec, p, files, kernels, path)) =>
        println(s"# spans: $path")
        Layers.metrics(rec, p, p.wallS - wallS, files, kernels)
    }
    val body = metrics.map { case (k, (v, u)) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}

object Disk {
  /** (bytes, data files) under the roots, hidden and `_` files excluded from the file count. */
  def usage(roots: Seq[String]): (Long, Long) = {
    var bytes, files = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else if (f.isFile) {
        bytes += f.length()
        if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) files += 1
      }
    roots.foreach(r => walk(new java.io.File(r)))
    (bytes, files)
  }

  /** Peak resident set of this process (VmHWM). */
  def peakRssBytes: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble * 1024
    }.getOrElse(Double.NaN)
    finally status.close()
  }
}
