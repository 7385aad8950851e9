package graft.tools

import java.nio.file.Files

import graft.SparkSpec

/** Smoke test of [[Profile]] on a checkpointed loop: per-rep times, job
  * lines, observed checkpoint rows and the plan file.
  */
class ProfileSpec extends SparkSpec {

  test("Profile reports jobs, checkpoint rows and the plan of q83_pagerank") {
    val plans = Files.createTempDirectory("graft-profile-plans-")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    Profile.run(spark, Seq("q83_pagerank"), sf(), reps = 1, plans = Some(plans),
      out = lines += _)
    val report = lines.mkString("\n")
    assert(lines.exists(_.startsWith("[profile] q83_pagerank rep 1: ")), report)
    assert(!report.contains("FAILED"), report)
    val jobs = lines.filter(_.startsWith("  job "))
    assert(jobs.nonEmpty, report)
    val checkpoints = lines.filter(_.startsWith("  checkpoint rows="))
    assert(checkpoints.nonEmpty, report)
    assert(checkpoints.forall(_.matches("  checkpoint rows=\\d+.*localCheckpoint at \\w+\\.scala:\\d+")),
      report)
    assert(jobs.exists(_.contains("localCheckpoint at PageRank.scala:")), report)
    val plan = plans.resolve("q83_pagerank.txt")
    assert(Files.isRegularFile(plan) && Files.readString(plan).contains("Physical Plan"))
  }
}
