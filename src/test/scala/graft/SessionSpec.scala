package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory is the only place a SparkSession is configured:
  * its sessions carry the graft extensions, UTC and the scan fan-out,
  * and no other source file builds a session by hand (hand-built copies
  * drift from the configuration the bench times).
  */
class SessionSpec extends AnyFunSuite with SparkSuite {

  test("Session.local(4) has the extensions, UTC and a 4-way scan fan-out") {
    val s = Session.local(4)
    val d = s.sql("SELECT float_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
      "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d").head().getDouble(0)
    assert(d == 11.0)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("graft.scan.fanout") == "4")
  }

  test("no source file outside graft/Session.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder("
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    assert(roots.forall(_.isDirectory), "run from the repository root")
    val offenders = roots.flatMap(files)
      .filterNot(_.getPath.endsWith("graft/Session.scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains(needle))
    assert(offenders.isEmpty, s"hand-built sessions: ${offenders.mkString(", ")}")
  }
}
