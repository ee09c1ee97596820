package graft.api

import org.apache.spark.sql.{Column, DataFrame, GraftSql, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** User-facing reader over one-row-per-event ragged-tensor parquet — the
  * Spark-native equivalent of the reference's reader/dataset classes
  * (`UBParquetReader`, /root/reference/readparquet.py:5-34;
  * `larmatchDataset`, /root/reference/larmatch2d/larmatch_dataset.py:62-180):
  * schema-merged multi-file scan, optional column projection, entry count,
  * index and key random access, Bernoulli sampling with retry, and
  * partition-sliced batch iteration.
  *
  * Unlike the reference (which decodes whole rows to NumPy in the client),
  * every access path here stays a Catalyst plan until the final collect —
  * key lookups prune via parquet stats, projections prune columns.
  */
class EventReader(
    spark: SparkSession,
    path: String,
    columns: Option[Seq[String]] = None,
    mergeSchema: Boolean = true) {

  /** The projected relation (P1: select(*cols) vs select("*")). */
  lazy val df: DataFrame = {
    val base = spark.read.option("mergeSchema", mergeSchema.toString).parquet(path)
    columns.map(cs => base.select(cs.map(col): _*)).getOrElse(base)
  }

  private val KeyCols = Seq("run", "subrun", "event")

  /** Entry order: the composite event key (run, subrun, event), as Spark
    * has no stable file order. Only the keys are ranked — range-partitioned
    * (no single reducer), sorted per partition, collected in partition
    * order — and held flat on the driver, 24 B per entry: entry `i` is key
    * `i`, the reference's entry list plus offsets (readparquet.py:14-34,
    * larvoxel_dataset.py:196-201). Keys must be projected and unique (one
    * row per detector event); a duplicate fails the build, naming it.
    */
  private lazy val index: Array[Long] = {
    val ranked = df.select(KeyCols.map(c => col(c).cast("long").as(c)): _*)
      .repartitionByRange(KeyCols.map(col): _*).sortWithinPartitions(KeyCols.map(col): _*)
      .collect().flatMap(r => Array(r.getLong(0), r.getLong(1), r.getLong(2)))
    ranked.grouped(3).map(_.toSeq).sliding(2).find(w => w.size == 2 && w.head == w.last).foreach(w =>
      throw new IllegalStateException(s"duplicate event key (run, subrun, event) = (${w.head.mkString(", ")}) in $path"))
    ranked
  }

  private def nkeys: Int = index.length / 3
  private def key(i: Int): Seq[Long] = index.slice(3 * i, 3 * i + 3).toSeq

  /** Rows whose key is in `ks`: a set test per key column (pushed to
    * parquet as `In`, so row-group statistics prune) and one on the whole
    * key. Sets, not inlined literals: every key set reuses one compiled class.
    */
  private def keyIn(ks: Seq[Seq[Long]]): Column = {
    val cols = KeyCols.map(c => col(c).cast("long"))
    cols.indices.map(j => GraftSql.inSet(cols(j), ks.map(_(j)).toSet[Any])).reduce(_ && _) &&
      GraftSql.inSet(struct(cols: _*), ks.map(InternalRow.fromSeq).toSet[Any])
  }

  /** Entries at ascending positions `ps`, in entry order, from one scan;
    * `ps.size` rows match, so the limit only makes the sort a top-k. */
  private def entriesAt(ps: Seq[Int]): DataFrame =
    if (ps.isEmpty) df.limit(0)
    else df.filter(keyIn(ps.map(key))).orderBy(KeyCols.map(col): _*).limit(ps.size)

  lazy val nentries: Long = df.count()

  /** Random access by entry index (P6, readparquet.py:14-34); `None` past the end. */
  def getEntry(i: Long): Option[Row] = {
    require(i >= 0, s"entry $i out of range")
    if (i >= nkeys) None else { val k = key(i.toInt); getEntry(k(0), k(1), k(2)) }
  }

  /** Keyed lookup (P5, larmatch_dataset.py:137-142) — stat-pruned scan. */
  def getEntry(run: Long, subrun: Long, event: Long): Option[Row] =
    df.filter(keyIn(Seq(Seq(run, subrun, event)))).collect().headOption

  /** Bernoulli sample with retry (R1, larmatch_dataset.py:144-157). */
  def sampleEntry(seed: Long = 42L, nPerAttempt: Int = 10): Row = {
    val frac = math.min(1.0, nPerAttempt.toDouble / math.max(1L, nentries))
    var attempt = 0
    while (attempt < 100) {
      val rows = df.sample(withReplacement = false, frac, seed + attempt).limit(1).collect()
      if (rows.nonEmpty) return rows(0)
      attempt += 1
    }
    df.limit(1).collect()(0)
  }

  /** Worker shard (W3 set_partition, larvoxel_dataset.py:196-201): entries
    * [start, end) of the entry order for worker `w` of `n`, in that order.
    */
  def partitionSlice(w: Int, n: Int): DataFrame = {
    require(w >= 0 && w < n)
    val per = (nkeys + n - 1) / n
    entriesAt(math.min(nkeys, w * per) until math.min(nkeys, (w + 1) * per))
  }

  /** Epoch iterator (R3): every entry once, in entry order or a seeded
    * permutation (R2, larvoxel_dataset.py:66-69), one scan partition's
    * worth of entries per fetch. */
  def epoch(shuffleSeed: Option[Long] = None): Iterator[Row] = {
    val all: IndexedSeq[Int] = 0 until nkeys
    val order = shuffleSeed.fold[Seq[Int]](all)(s => new scala.util.Random(s).shuffle(all))
    val batch = math.ceil(nkeys.toDouble / math.max(1, df.rdd.getNumPartitions)).toInt
    order.grouped(math.max(1, batch)).flatMap { b =>
      val at = b.sorted.zip(entriesAt(b.sorted).collect()).toMap
      b.iterator.map(at)
    }
  }
}
