package graft.tools

/** Second-JVM writer for the cross-process store-concurrency test
  * (DedupSpec "two JVMs"): stages a small deterministic snapshot into
  * the fingerprint store at `args(0)` with identity `args(1)` and
  * prints the committed version number. Run concurrently with a stage
  * from ANOTHER process on the same path, the versioned-claim protocol
  * ([[graft.etl.StoreFs.claimVersion]]) must hand the two writers
  * disjoint version dirs — the in-JVM thread interleave DedupSpec also
  * drives cannot prove that, because both threads share one
  * filesystem-object instance and one Spark scheduler.
  *
  * `args(2)` is a token-suffix making this writer's corpus distinct, so
  * the parent can tell whose snapshot won from the served verdicts.
  */
object StoreRaceProbe {
  def main(args: Array[String]): Unit = {
    val Array(path, identity, suffix) = args.take(3)
    val spark = graft.Session.local(cores = 2)
    try {
      import spark.implicits._
      val docs = (0 until 24).map(i =>
        (i.toLong, s"race doc $i body " + (s"$suffix$i " * 8)))
        .toDF("doc_id", "text")
      graft.quality.DedupOps.writeFingerprintStore(spark, docs, path, identity)
      val fsys = graft.etl.StoreFs.fs(spark, path)
      val vs = graft.etl.StoreFs.committedVersions(fsys, path)
      // the version THIS writer committed is whichever committed marker
      // carries our identity (claim order != commit order)
      val mine = vs.filter(v => graft.etl.StoreFs
        .readMarker(fsys, s"$path/v$v").contains(identity))
      println(s"RACE_COMMITTED ${mine.mkString(",")}")
    } finally spark.stop()
  }
}
