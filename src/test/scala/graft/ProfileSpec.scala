package graft

import graft.tools.Profile

/** `Profile`'s modes run on the sf0.001 fixture. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("time: one rep of q01_segments counts its jobs, stages and tasks") {
    val r = Profile.time(spark, sf, "q01_segments", 1)
    assert(r.jobs > 0 && r.stages > 0 && r.tasks >= r.stages, r)
    assert(r.stageLines.size == r.stages, r)
    assert(r.exec > 0 && r.build > 0, r)
    val line = Profile.summary("q01_segments", r)
    assert(line.matches(s".*jobs=\\s*${r.jobs} stages=\\s*${r.stages} tasks=\\s*${r.tasks} compiles=\\s*${r.compiles}"), line)
  }

  test("plan: q03_sample_prev's settled plan shows its exchanges") {
    val text = Profile.plan(spark, sf, "q03_sample_prev")
    assert(text.contains("Exchange"), text)
    assert(text.contains("isFinalPlan=true"), text)
  }
}
