package graft.etl

import graft.tensor.VoxelComponents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native re-expressions of the reference's ETL/derived-table
  * pipelines over the family-A event tables. Each pipeline is one
  * declarative Catalyst plan: the reference's per-entry Python loops
  * (/root/reference/dlmerged2parquet.py:122-282,
  * voxel_to_instance_data.py:23-65) become partition-parallel dataflows
  * with a single shuffle per aggregation.
  */
object EventPipelines {

  /** Long-form view of the spacepoint table: one row per point, via the
    * tensor_explode generator, with the per-point label arrays passed
    * INTO the generator as aligned arrays, so they come out as scalars
    * positionally aligned with the points (SURVEY.md §7.4: never explode
    * parallel arrays independently) and no exploded row carries a copy
    * of a whole label array.
    */
  def spacepointsLong(spark: SparkSession, events: DataFrame): DataFrame =
    pointsLong(events, Seq("truetriplet", "segment", "instance"))

  /** [[spacepointsLong]] with only the given labels (each `<label>_t`):
    * an aligned array is read for every point, so a pipeline passes just
    * the labels it uses.
    */
  private def pointsLong(events: DataFrame, labels: Seq[String]): DataFrame =
    events.selectExpr("run", "subrun", "event",
      s"tensor_explode(spacepoint_t, spacepoint_t_shape, ${labels.map(_ + "_t").mkString(", ")}) " +
        s"AS (pt, slice, ${labels.mkString(", ")})")
      .select(Seq(col("run"), col("subrun"), col("event"), col("pt"),
        element_at(col("slice"), 1).as("x"), element_at(col("slice"), 2).as("y"),
        element_at(col("slice"), 3).as("z"), element_at(col("slice"), 4).as("charge")) ++
        labels.map(col): _*)

  /** V1 voxelization: bin spacepoints to integer voxel coords at
    * `voxelSizeCm`, keep only true (non-ghost) points, aggregate charge
    * and the majority-vote ssnet label per voxel with argmax-bincount
    * tie-breaking (lowest label wins on count ties,
    * voxel_to_instance_data.py:63).
    */
  def voxelize(spark: SparkSession, events: DataFrame, voxelSizeCm: Double): DataFrame = {
    val long = pointsLong(events, Seq("truetriplet", "segment"))
      .filter(col("truetriplet") === 1)
      .withColumn("vx", floor(col("x") / voxelSizeCm))
      .withColumn("vy", floor((col("y") + 117.0) / voxelSizeCm))
      .withColumn("vz", floor(col("z") / voxelSizeCm))
    long.groupBy("run", "subrun", "event", "vx", "vy", "vz")
      .agg(count(lit(1)).as("npts"), sum(col("charge").cast("double")).as("charge"),
        mode(col("segment"), deterministic = true).as("ssnet"))
  }

  /** Shared long view of a voxel event table: one row per non-ghost
    * voxel, integer grid coords (ix, iy, iz) for adjacency plus the
    * shifted output doubles (y − 117), the ssnet label, and `instance`,
    * read from the per-voxel array the SQL expression `instances` yields.
    */
  private def voxelLong(voxels: DataFrame, instances: String): DataFrame =
    voxels.selectExpr("run", "subrun", "event",
      s"tensor_explode(voxcoord, voxcoord_shape, voxlabel, voxssnet, $instances) " +
        "AS (i, slice, voxlabel, ssnet, instance)")
      .filter(col("voxlabel") === 1)
      .select(col("run"), col("subrun"), col("event"), col("i"),
        element_at(col("slice"), 1).as("ix"),
        element_at(col("slice"), 2).as("iy"),
        element_at(col("slice"), 3).as("iz"),
        element_at(col("slice"), 1).cast("double").as("x"),
        (element_at(col("slice"), 2).cast("double") - 117.0).as("y"),
        element_at(col("slice"), 3).cast("double").as("z"),
        col("voxlabel"), col("ssnet"), col("instance"))

  /** The §3.3 aggregation grain over a long voxel view carrying an
    * `instance` column (given labels for [[instanceTable]], CC-derived
    * for [[instanceTableCC]]): one aggregation per instance takes the
    * majority-vote ssnet label (ties → lowest; a null label does not
    * vote) and the members, canonically sorted so output is
    * deterministic under shuffle and re-encoded flatten+shape.
    */
  private[graft] def aggregateInstances(long: DataFrame): DataFrame =
    long.groupBy("run", "subrun", "event", "instance")
      .agg(array_sort(collect_list(struct(col("i"), col("x"), col("y"), col("z")))).as("pts"),
        mode(col("ssnet"), deterministic = true).as("label"))
      .select(col("run"), col("subrun"), col("event"), col("instance"),
        flatten(transform(col("pts"),
          p => array(p.getField("x"), p.getField("y"), p.getField("z")))).as("instvoxcoord"),
        array(size(col("pts")).cast("long"), lit(3L)).as("instvoxcoord_shape"),
        col("label"))

  /** §3.3 derived-table pipeline (voxel_to_instance_data.py): voxel event
    * table → instance-cluster table, grouped by the GIVEN instance label.
    * Ghost filter, y −117 shift, majority-vote ssnet label (ties →
    * lowest), member coords re-encoded in the flatten+shape convention.
    */
  def instanceTable(spark: SparkSession, voxels: DataFrame): DataFrame =
    aggregateInstances(voxelLong(voxels, "voxinstance"))

  /** §3.3 with the reference's FLOOD-FILL instance grain: when the voxel
    * table carries no trusted instance labels, the instance id is
    * DERIVED by 6-neighborhood connected components over each event's
    * non-ghost voxels — the reference's per-event dense-array flood fill
    * (voxel_to_instance_data.py's cluster step, larmatch instance
    * grain). Components never cross an event, and an event is one row,
    * so they are found inside the row by
    * [[graft.tensor.VoxelComponents]] (`voxel_components`, an in-memory
    * union-find) and ride the explode as an aligned array; finding them
    * takes no join, shuffle, checkpoint or iteration.
    *
    * Instance id = event-index · 2^33 + the component's smallest packed
    * in-event id (ix · 2^22 + iy · 2^11 + iz; each coord < 2047 — the
    * detector box is 256×234×1036 at 1 cm, FIXTURES.md §A2, and the
    * packing is checked), i.e. the minimum of the global packed ids
    * (event-index ≪ 33 | ix ≪ 22 | iy ≪ 11 | iz) in the component;
    * isolated voxels label themselves. The event-index comes from a
    * row_number over the DISTINCT (run, subrun, event) set of the events
    * with a non-ghost voxel —
    * event-metadata cardinality, never voxels, the ev6 calendar-window
    * posture. Downstream is [[instanceTable]]'s own aggregation applied
    * to the derived grain.
    */
  def instanceTableCC(spark: SparkSession, voxels: DataFrame): DataFrame = {
    val long = voxelLong(voxels, "voxel_components(voxcoord, voxcoord_shape, voxlabel)")
    // the long view's events, read off the rows: union-find runs once per event
    val evs = voxels.filter(exists(col("voxlabel"), _ === 1))
      .select("run", "subrun", "event").distinct()
      .withColumn("evi",
        row_number().over(Window.orderBy("run", "subrun", "event")).cast("long"))
    // Coords must stay ≤ 2046: at 2047 a +1 neighbor no longer fits its
    // 11-bit field. voxel_components leaves such voxels unlabelled, and
    // this guard fails the query on them.
    val outside = Seq("ix", "iy", "iz")
      .map(c => col(c) < 0 || col(c) >= VoxelComponents.Limit).reduce(_ || _)
    val derived = long.join(broadcast(evs), Seq("run", "subrun", "event"))
      .withColumn("instance", when(outside,
        expr("raise_error('voxel coord outside packable range [0, 2047)')").cast("long"))
        .otherwise(col("evi") * 8589934592L + col("instance")))
    aggregateInstances(derived.drop("evi"))
  }

  /** V4 triplet formation analog: three per-plane hit tables joined on
    * the shared time tick — a three-way equi-join producing candidate
    * 3-D points (PrepMatchTriplets, dlmerged2parquet.py:211-212).
    */
  def tripletJoin(plane0: DataFrame, plane1: DataFrame, plane2: DataFrame): DataFrame = {
    val p0 = plane0.select(col("tick"), col("wire").as("u"), col("adc").as("adc_u"))
    val p1 = plane1.select(col("tick"), col("wire").as("v"), col("adc").as("adc_v"))
    val p2 = plane2.select(col("tick"), col("wire").as("y"), col("adc").as("adc_y"))
    p0.join(p1, "tick").join(p2, "tick")
      .filter(col("adc_u") > 10.0 && col("adc_v") > 10.0 && col("adc_y") > 10.0)
      .select(col("tick"), col("u"), col("v"), col("y"),
        (col("adc_u") + col("adc_v") + col("adc_y")).as("adc_sum"))
  }
}
