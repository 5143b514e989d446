package graft

import java.nio.file.Files

import graft.tools.Profile

/** [[Profile.run]] on the shared session: repeats, job lines, and the
  * plan files written for queries (never for artifacts). */
class ProfileSpec extends SparkSpec {

  test("a name given twice runs twice, each run with its job lines") {
    val runs = Profile.run(spark, sf(), Seq("q01_scan_agg", "q01_scan_agg"))
    assert(runs.map(_.entry) === Seq("q01_scan_agg", "q01_scan_agg"))
    runs.foreach { r =>
      assert(r.error.isEmpty && r.jobs.nonEmpty, s"no job lines: $r")
    }
  }

  test("planDir + tag write the formatted plan for queries, none for artifacts") {
    val dir = Files.createTempDirectory("graft-profile-spec-")
    try {
      val runs = Profile.run(spark, sf(), Seq("q01_scan_agg", "artifact_pairs"),
        plans = Some((dir.toString, "t")))
      assert(runs.map(_.error) === Seq(None, None))
      val plan = dir.resolve("q01_scan_agg_t.txt")
      assert(Files.readString(plan).contains("== Physical Plan =="))
      val files = Files.list(dir)
      try assert(files.count() === 1, "artifact_pairs must write no plan file")
      finally files.close()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
