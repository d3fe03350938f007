package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's argument handling, in a child JVM (it exits the process).
  * Every refusal happens before a Spark session is built or the output
  * directory is touched. */
class VerifySpec extends AnyFunSuite {

  test("Verify with too few arguments prints its usage and exits 2") {
    for (args <- Seq(Seq(), Seq("sfDir"))) {
      val r = ChildJvm.run("graft.Verify", args: _*)
      assert(r.exitCode === 2, args)
      assert(r.err.contains(Verify.Usage), r.err)
      assert(!r.err.contains("ArrayIndexOutOfBounds"), r.err)
    }
  }

  test("Verify refuses an unknown query name instead of dumping nothing") {
    val dir = TempDirs.create("graft-verify-args")
    val out = dir.resolve("out")
    val r = ChildJvm.run("graft.Verify", dir.resolve("sf").toString,
      out.toString, "q01_scan_filter_project,q01_no_such_query")
    assert(r.exitCode === 2, r.err)
    assert(r.err.contains("'q01_no_such_query'"), r.err)
    assert(!r.err.contains("'q01_scan_filter_project'"), r.err)
    assert(!java.nio.file.Files.exists(out), "output dir was created")
  }
}
