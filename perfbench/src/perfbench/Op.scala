package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark op: a call into one engine module (`module` is
  * `<layer>.<Object>`, e.g. `etl.EventPipelines`), timed as `construct`
  * (the call itself, including any eager jobs it runs before returning)
  * then `execute` (the action that materializes its result). `check`
  * validates the result of the last execution and throws on a wrong one.
  */
abstract class Op(val name: String, val write: Boolean, val module: String) {
  def construct(): Unit = ()
  def execute(): Unit
  def check(): Unit = ()
  /** Rows the last execution returned to the caller (reader calls). */
  def rows: Long = 0L
  def layer: String = module.takeWhile(_ != '.')
}

object Op {
  /** Run ops once, untimed, collecting their failures. */
  def untimed(ops: Seq[Op]): Seq[Failure] = ops.flatMap { op =>
    try {
      val t0 = System.nanoTime()
      op.construct(); op.execute()
      System.err.println(f"[perfbench] warm-up ${op.name}%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      None
    }
    catch { case scala.util.control.NonFatal(e) => Some(Failure(op.name, "warmup", e)) }
  }
}

/** A SparkEntry query function: the query, then a noop write — the way
  * graft.Bench times one.
  */
final class QueryOp(spark: SparkSession, q: graft.Q, module: String, write: Boolean, dir: String)
    extends Op(q.name, write, module) {
  private var df: DataFrame = _
  override def construct(): Unit = df = q.fn(spark, dir)
  def execute(): Unit = df.write.format("noop").mode("overwrite").save()
  def result: DataFrame = df
}

/** A derived-table op: builds a DataFrame, then writes it as parquet. */
final class WriteOp(name: String, module: String, build: () => DataFrame, path: String,
    verify: String => Unit) extends Op(name, true, module) {
  private var df: DataFrame = _
  override def construct(): Unit = df = build()
  def execute(): Unit = df.write.mode("overwrite").parquet(path)
  override def check(): Unit = verify(path)
}

/** An op whose whole cost is one call (a writer or a reader API call);
  * `hits` counts the rows the call returned.
  */
final class CallOp[A](name: String, write: Boolean, module: String, call: () => A,
    verify: A => Unit = (_: A) => (), hits: A => Long = (_: A) => 1L)
    extends Op(name, write, module) {
  private var out: Option[A] = None
  def execute(): Unit = out = Some(call())
  override def check(): Unit = verify(out.getOrElse(sys.error(s"$name produced no result")))
  override def rows: Long = out.map(hits).getOrElse(0L)
}

/** A failed op: the op, the phase, and the exception's class and message. */
final case class Failure(op: String, phase: String, error: Throwable) {
  override def toString: String =
    s"$op [$phase]: ${error.getClass.getName}: ${String.valueOf(error.getMessage).take(400)}"
}

/** A workload: repeatable input preparation, an untimed warm-up, the ops
  * of one pass in the order the seed gives, and the output checks.
  */
trait Workload {
  /** Generate or stage the inputs and verify them; repeatable. */
  def prepare(): Seq[Failure]
  /** Untimed first execution; failures it reports count as failed ops. */
  def warmup(): Seq[Failure]
  def pass(): Seq[Op]
  /** Checks after the timed passes; failures count as failed ops. */
  def checkOutputs(ops: Seq[Op]): Seq[Failure] =
    ops.flatMap(op => try { op.check(); None } catch {
      case scala.util.control.NonFatal(e) => Some(Failure(op.name, "check", e))
    })
  /** Bytes and files on disk under the write ops' output roots. */
  def outputRoots: Seq[String]
  /** Workload facts printed beside the metrics (input sizes, op count). */
  def describe: String
}
