package graft

import graft.operators.HistoricStates
import graft.operators.HistoricStates._

class HistoricStatesSpec extends SparkTestBase {

  private val current = BugState("RESOLVED", "Web Compatibility", "Site Reports",
    Seq("webcompat:platform-bug", "webcompat:sitepatch-applied"),
    "https://example.com",
    "impact:severe\nplatform:windows\n")

  // chronological: NEW→ASSIGNED added keyword; later ASSIGNED→RESOLVED +
  // sitepatch keyword + user-story edit (stored as unified diff of new text)
  private val changes = Seq(
    BugChange("2024-01-01T00:00:00",
      Seq(FieldChange("status", "NEW", "ASSIGNED"),
        FieldChange("keywords", "", "webcompat:platform-bug"))),
    BugChange("2024-02-01T00:00:00",
      Seq(FieldChange("status", "ASSIGNED", "RESOLVED"),
        FieldChange("keywords", "", "webcompat:sitepatch-applied"),
        FieldChange("cf_user_story",
          "", "@@ -1,2 +1,2 @@\n impact:severe\n-platform:linux\n+platform:windows\n"))))

  test("reconstruct walks states backwards, newest first") {
    val states = HistoricStates.reconstruct(current, changes)
    assert(states.length == 3)
    assert(states.head == current)
    assert(states(1) == BugState("ASSIGNED", "Web Compatibility", "Site Reports",
      Seq("webcompat:platform-bug"), "https://example.com",
      "impact:severe\nplatform:linux\n"))
    assert(states(2) == BugState("NEW", "Web Compatibility", "Site Reports",
      Seq.empty, "https://example.com", "impact:severe\nplatform:linux\n"))
  }

  test("consecutive duplicate change rows are deduplicated (metric_changes.py:253-257)") {
    val dup = changes ++ Seq(changes.last.copy(changeTime = "2024-02-01T00:00:01"))
    // identical consecutive change payload → treated as one
    val states = HistoricStates.reconstruct(current, dup)
    assert(states.length == 3)
  }

  test("distributed reconstruction via mapGroups") {
    import spark.implicits._
    val ds = Seq(
      BugHistory(1L, current, changes),
      BugHistory(2L, BugState("NEW", "Core", "Layout", Seq.empty, "", ""), Seq.empty)).toDS()
    val out = HistoricStates.historicStates(ds).collect()
      .map(b => b.number -> b.states).toMap
    assert(out(1L).length == 3)
    assert(out(2L) == Seq(BugState("NEW", "Core", "Layout", Seq.empty, "", "")))
  }
}
