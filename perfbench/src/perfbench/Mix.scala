package perfbench

import graft.{OpModule, Q}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** `mix_sf0.1`: SparkEntry query functions on the sf0.1 test tables
  * (single files, so the scan fan-out is active). Reads are TPC-H, join,
  * window and a corpus-quality query; writes are an IVM store refresh
  * and a sink round-trip. The seed permutes the op order. Every op's
  * output is checked, in the warm-up and again after the last timed pass,
  * against a checksum pinned from a run whose outputs matched the DuckDB
  * oracles, and every input table file against its pinned SHA-256 digest.
  */
final class Mix(spark: SparkSession, seed: Long, data: String, expectedDir: String) extends Workload {
  import Mix._

  private val expected = Expected.read(s"$expectedDir/$Name.json")
  private lazy val ops: Seq[QueryOp] = (Reads.map(_ -> false) ++ Writes.map(_ -> true)).map {
    case (n, write) => val (q, m) = query(n); new QueryOp(spark, q, m, write, data)
  }

  /** The per-user scratch root the IVM stores and sink round-trips write under. */
  def outputRoots: Seq[String] =
    Seq(s"${System.getProperty("java.io.tmpdir")}/graft_${System.getProperty("user.name")}")

  def describe: String =
    s"${Reads.size} reads + ${Writes.size} writes on ${expected.tables.size} tables, " +
      f"${expected.tables.values.map(_._1).sum} input rows, ${Disk.usage(Seq(data))._1 / 1e6}%.1f MB"

  /** Staging check: every input table file matches its pinned SHA-256
    * digest (the pin also records its row count).
    */
  def prepare(): Seq[Failure] = expected.tables.toSeq.flatMap { case (t, (_, digest)) =>
    try {
      val got = sha256(s"$data/$t.parquet")
      require(got == digest, s"input table $t has digest $got, pinned $digest")
      None
    } catch { case NonFatal(e) => Some(Failure(t, "input", e)) }
  }

  /** Warm-up: each op once, its output checked against the pinned checksum. */
  def warmup(): Seq[Failure] = ops.flatMap { op =>
    try {
      val t0 = System.nanoTime()
      op.construct()
      System.err.println(f"[perfbench] warm-up ${op.name}%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      verify(op)
      None
    } catch { case NonFatal(e) => Some(Failure(op.name, "check", e)) }
  }

  def pass(): Seq[Op] = new scala.util.Random(seed).shuffle(ops)

  /** The last timed pass's outputs, checked against the same pins. */
  override def checkOutputs(last: Seq[Op]): Seq[Failure] = last.flatMap {
    case op: QueryOp =>
      try { verify(op); None } catch { case NonFatal(e) => Some(Failure(op.name, "check", e)) }
    case op => Some(Failure(op.name, "check", new IllegalStateException("not a query op")))
  }

  private def verify(op: QueryOp): Unit = {
    val got = Checksum.of(op.result)
    val want = expected.ops.getOrElse(op.name, sys.error(s"no pinned checksum for ${op.name}"))
    require(got == want, s"output reads $got, pinned $want")
  }
}

object Mix {
  val Name = "mix_sf0.1"

  def sha256(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      .map("%02x".format(_)).mkString

  val Reads = Seq(
    "tpch_q1", "tpch_q6", "tpch_q14_shape",
    "j3_map_lookup", "j6_semi_join", "j7_anti_join",
    "w2_topk", "w3_ntile", "w5_rank", "w8_above_avg",
    "dd3_simhash")
  val Writes = Seq("ivm1_delta_agg", "k1_export_roundtrip")

  private val modules: Seq[OpModule] = Seq(graft.ops.TpchOps, graft.ops.RelationalOps,
    graft.ops.WindowOps, graft.ops.ScalarOps, graft.quality.DedupOps, graft.etl.IvmOps,
    graft.etl.SinkOps)

  /** The query and its module name (`<layer>.<Object>`). */
  def query(name: String): (Q, String) = modules.iterator.flatMap { m =>
    m.qs.find(_.name == name).map(_ -> m.getClass.getName.stripPrefix("graft.").stripSuffix("$"))
  }.nextOption().getOrElse(throw new NoSuchElementException(s"no query $name"))

  /** Per-query metrics of the traced run: the corpus-quality reads. */
  def perQuery: Seq[String] = Reads.map(n => n -> query(n)._2).collect {
    case (n, m) if m.startsWith("quality.") => s"quality.${n}_s"
  }

  /** Pinning run: row counts of the input tables, checksums of every op's output,
    * plus the op outputs and their oracle SQL in graft.Verify's layout
    * (`<out>/<query>/` parquet, `<out>/oracle_sql.json`) for the DuckDB
    * parity check. Prints the checksums as JSON.
    */
  def pin(spark: SparkSession, data: String, out: String, tables: Seq[String]): Unit = {
    def j(s: Checksum.Sum) = s"""{"rows": ${s.rows}, "checksum": ${s.hash}}"""
    val t = tables.map { n =>
      val p = s"$data/$n.parquet"
      s""""$n": {"rows": ${spark.read.parquet(p).count()}, "sha256": "${sha256(p)}"}"""
    }
    val o = (Reads ++ Writes).map { n =>
      val df = query(n)._1.fn(spark, data)
      val sum = Checksum.of(df)
      df.write.mode("overwrite").parquet(s"$out/$n")
      s""""$n": ${j(sum)}"""
    }
    val oracles = (Reads ++ Writes).flatMap(n => query(n)._1.oracle.map(n -> _))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      mapper.writeValueAsBytes(scala.jdk.CollectionConverters.MapHasAsJava(oracles.toMap).asJava))
    println(s"""{"tables": {${t.mkString(", ")}}, "ops": {${o.mkString(", ")}}}""")
  }
}

/** Pins: `{"tables": {name: {rows, sha256}}, "ops": {name: {rows, checksum}}}`. */
final case class Expected(tables: Map[String, (Long, String)], ops: Map[String, Checksum.Sum])

object Expected {
  def read(path: String): Expected = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    def entries[A](field: String)(f: com.fasterxml.jackson.databind.JsonNode => A): Map[String, A] = {
      val node = root.get(field)
      scala.jdk.CollectionConverters.IteratorHasAsScala(node.fieldNames()).asScala
        .map(n => n -> f(node.get(n))).toMap
    }
    Expected(entries("tables")(t => (t.get("rows").asLong(), t.get("sha256").asText())),
      entries("ops")(o => Checksum.Sum(o.get("rows").asLong(), o.get("checksum").asLong())))
  }
}
