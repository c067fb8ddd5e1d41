package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The inspector as a user runs it: a forked `graft.tools.Inspect` JVM. */
class InspectSpec extends AnyFunSuite {

  test("Inspect run q01 on sf0.001 prints its rows and ALL OK") {
    val (rc, out) = graft.Forked.run("graft.tools.Inspect",
      Seq("run", "/root/testdata/sf0.001", "q01"),
      Map("SPARK_GRAFT_CPUS" -> "4"))
    assert(rc == 0, s"rc=$rc\n${out.takeRight(1200)}")
    val lines = out.linesIterator.toSeq
    assert(lines.contains("=== q01_pricing_summary ==="), out)
    assert(lines.exists(_.matches("rows=[1-9][0-9]*")), out)
    assert(lines.contains("ALL OK"), out)
  }

  test("Inspect time q01 on sf0.001 prints its time, rows and codegen compiles") {
    val (rc, out) = graft.Forked.run("graft.tools.Inspect",
      Seq("time", "/root/testdata/sf0.001", "q01"),
      Map("SPARK_GRAFT_CPUS" -> "4"))
    assert(rc == 0, s"rc=$rc\n${out.takeRight(1200)}")
    val line = out.linesIterator.find(_.startsWith("[time] q01_pricing_summary"))
    assert(line.exists(_.matches(
      raw"\[time\] q01_pricing_summary +[0-9.]+ s  rows=[1-9][0-9]*  compiles=[1-9][0-9]*  exprs=[1-9][0-9]*")),
      out)
    assert(out.linesIterator.exists(_.startsWith("[time] TOTAL")), out)
  }
}
