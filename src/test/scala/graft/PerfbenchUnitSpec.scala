package graft

import java.io.File

import scala.sys.process.{Process, ProcessLogger}
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Runs the benchmark's fast unit tests (generated inputs, self-time
  * split, call-site layer map), so a change that moves a source line
  * the layer map keys on fails here, not only in a benchmark run.
  */
class PerfbenchUnitSpec extends AnyFunSuite {

  test("perfbench unit tests: generated inputs, self times, call sites") {
    assume(Try(Process(Seq("python3", "--version")).!(ProcessLogger(_ => ()))).toOption
      .contains(0), "python3 is not installed")
    val out = new StringBuilder
    val log = ProcessLogger(l => out ++= l += '\n', l => out ++= l += '\n')
    val code = Process(Seq("python3", "-m", "unittest", "test_perfbench.GeneratedInputs",
      "test_perfbench.SelfTimes", "test_perfbench.CallSites"), new File("perfbench")).!(log)
    assert(code == 0, out.toString)
  }
}
