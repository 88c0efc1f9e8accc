package graft

import graft.tools.Smoke

/** The scale-smoke harness on the shared session: suite lookup and the
  * scratch root's lifetime. */
class SmokeSpec extends SparkSpec {

  test("Smoke: an unknown suite fails and lists the suites") {
    val e = intercept[IllegalArgumentException](Smoke.run(spark, "nope"))
    assert(e.getMessage.contains("nope"))
    Smoke.suites.keys.foreach(s => assert(e.getMessage.contains(s), s))
  }

  test("Smoke: a tiny etl run reports its stages and leaves no scratch behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch = tmp.listFiles().map(_.getName)
      .filter(_.startsWith("graft_smoke_")).toSet
    val before = scratch
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Smoke.run(spark, "etl", Some(5000L)))
    val lines = out.toString("UTF-8").split("\n").toSeq
    assert(lines.contains("[scale-smoke] pipeline rows=5000"), lines)
    assert(lines.exists(_.startsWith("[scale-smoke] top rows=")), lines)
    assert(scratch == before)
    assert(!spark.sparkContext.isStopped)
  }
}
