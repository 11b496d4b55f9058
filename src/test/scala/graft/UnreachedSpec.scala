package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps `tools/unreached.py` empty: every src/main file is reached by
  * name from an entry point (a main, SparkEntry, HttpServe, IntakeServe,
  * perfbench), and every src/main def is named by some code. Runs from
  * the build's base directory, the forked test JVM's working directory.
  */
class UnreachedSpec extends AnyFunSuite {

  test("tools/unreached.py reports no unreached file and no unnamed def") {
    val out = new StringBuilder
    val err = new StringBuilder
    val exit = Process(Seq("python3", "tools/unreached.py"), new java.io.File(sys.props("user.dir")))
      .!(ProcessLogger(l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    assert(exit === 0, s"unreached.py failed: $err")
    assert(out.toString === "", "delete or reach what unreached.py lists")
  }
}
