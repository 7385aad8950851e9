package graft

/** Pins [[Session]]: the conf Bench and Verify run with, and that no
  * other main builds a session of its own.
  */
class SessionSpec extends SparkSpec {

  test("Session.local carries the bench conf") {
    // the conf the context was built with: specs may change the
    // session's runtime conf and restore it
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.ui.enabled") === "false")
  }

  test("main code builds sessions only through Session") {
    val offenders = SourceGuard.offenders("SparkSession.builder",
      "graft/Session.scala", "graft/cli/Main.scala")
    assert(offenders.isEmpty,
      s"ad-hoc SparkSession builder (use graft.Session):\n${offenders.mkString("\n")}")
  }
}
