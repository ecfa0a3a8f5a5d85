package graft

import graft.operators.{RelationalQueries, StreamingQueries}

class ProfileSpec extends SparkSpec {
  test("Profile populates wall, Catalyst phases and job attribution per " +
    "key, and a throwing key lands in errors, never as a timing") {
    val planDir = Tables.tempRoot("graft-profile-plans")
    val report = Profile.run(spark, sf, Seq(
      "a1_pricing_summary" -> RelationalQueries.a1_pricing_summary _,
      "boom" -> ((s, d) => s.read.parquet(s"$d/no_such_table.parquet")),
      "t1_tumbling" -> StreamingQueries.t1_tumbling _), planDir)
    assert(report.profiles.map(_._1) === Seq("a1_pricing_summary", "t1_tumbling"))
    assert(report.errors.map(_._1) === Seq("boom"))
    report.profiles.foreach { case (k, p) =>
      assert(p.wallMs > 0, k)
      assert(p.phasesMs.keySet === Set("analysis", "optimization", "planning"), k)
      assert(p.queryExecutions >= 1, k)
      assert(p.jobs > 0 && p.stages > 0 && p.tasks > 0, k)
      assert(p.jobMs >= 0 && p.executorRunMs >= 0, k)
      assert(p.planMetrics.exists(_.metrics.contains("numOutputRows")), k)
      assert(new java.io.File(s"$planDir/$k.txt").length() > 0, k)
    }
    val json = Profile.toJson(report, sf, "")
    assert(json.contains("\"errors\":[{\"key\":\"boom\""))
    assert(!json.contains("\"boom\":{"))
  }
}
