package graft

import org.scalatest.funsuite.AnyFunSuite

/** The un-killable-bench contract (the r13 verdict's #1 item), pinned as
  * a suite gate: whatever the wall-clock budget, a `graft.Bench` run must
  * exit 0 and print the tiny final machine line — with remaining queries
  * reported as SKIPPED when the internal deadline trips, never as
  * failures, and never by dying to the external timeout. Each case runs
  * Bench as a forked child JVM ([[Forked]]) against sf0.001 so the gate
  * stays cheap.
  */
class BenchDeadlineSpec extends AnyFunSuite {

  private def runBench(extraEnv: Map[String, String]): (Int, String) =
    Forked.run("graft.Bench", Nil, Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.001",
      "SPARK_GRAFT_CPUS" -> "4",
      "SPARK_GRAFT_SHARED" -> "0") ++ extraEnv)

  private def finalLine(out: String): String = {
    val l = out.linesIterator.filter(_.startsWith("{\"metric\":\"total\""))
      .toSeq
    assert(l.nonEmpty, s"no final machine line in:\n${out.takeRight(1500)}")
    l.last
  }

  test("an exhausted deadline still exits 0 with everything reported skipped") {
    // DeadlineSec <= PrintReserve => zero work budget: every query must
    // be SKIPPED (not run, not failed) and the machine line still print
    val (rc, out) = runBench(Map(
      "SPARK_GRAFT_ONLY" -> "q01,q02,q03",
      "SPARK_GRAFT_DEADLINE_SEC" -> "1"))
    assert(rc == 0, s"rc=$rc\n${out.takeRight(1200)}")
    val line = finalLine(out)
    assert(line.contains("\"nq\":0"), line)
    assert(line.contains("\"nskipped\":3"), line)
    assert(line.contains("\"nfailed\":0"), line)
    // the contention-asterisk field is always present (r14 verdict #5)
    assert(line.contains("\"nsuspect\":"), line)
    assert(line.contains("\"suspect\":["), line)
  }

  test("a comfortable deadline measures everything and skips nothing") {
    val (rc, out) = runBench(Map(
      "SPARK_GRAFT_ONLY" -> "q01,q02",
      "SPARK_GRAFT_DEADLINE_SEC" -> "600",
      "SPARK_GRAFT_RERUN_BUDGET_SEC" -> "0")) // no child re-runs: fast gate
    assert(rc == 0, s"rc=$rc\n${out.takeRight(1200)}")
    val line = finalLine(out)
    assert(line.contains("\"nq\":2"), line)
    assert(line.contains("\"nskipped\":0"), line)
    assert(line.contains("\"nfailed\":0"), line)
    assert(line.contains("\"nsuspect\":"), line)
    // the per-query chunked map is present and parseable before the line
    assert(out.linesIterator.exists(_.startsWith("{\"detail\":\"queries-")),
      out.takeRight(1200))
  }

  test("a missing XGB model artifact does not stop the registry or q01") {
    // only q47/q48 are built from the ckd model: assembling the registry
    // must not load it, so a bench of any other query runs even where the
    // artifact is absent (the path below never exists, so this holds on
    // hosts that do have the model too)
    val (rc, out) = runBench(Map(
      "GRAFT_XGB_CKD_MODEL" -> "/nonexistent/xgb_ckd_model.json",
      "SPARK_GRAFT_ONLY" -> "q01",
      "SPARK_GRAFT_DEADLINE_SEC" -> "600",
      "SPARK_GRAFT_RERUN_BUDGET_SEC" -> "0"))
    assert(rc == 0, s"rc=$rc\n${out.takeRight(1200)}")
    val line = finalLine(out)
    assert(line.contains("\"nq\":1"), line)
    assert(line.contains("\"nfailed\":0"), line)
  }
}
