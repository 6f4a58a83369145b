package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Verify's containment of a deadlocked scheduler: after a key's
  * timeout, a reported deadlock marks every remaining key as not run
  * and stops the run with a non-zero status; no deadlock lets the run
  * go on.
  */
class VerifySpec extends AnyFunSuite {
  private def errorOf(dir: String, key: String): Option[String] = {
    val p = Paths.get(s"$dir/$key/_ERROR")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  test("a deadlock after a timeout marks every remaining key not run and exits non-zero") {
    val dir = Files.createTempDirectory("graft_verify").toString
    val got = Verify.deadlockExit(dir, "q_b", Seq("q_c", "q_d"),
      () => Some("\"dag-scheduler-event-loop\" BLOCKED on lock"))
    assert(got.contains(Verify.DeadlockExit) && Verify.DeadlockExit != 0)
    for (k <- Seq("q_c", "q_d"))
      assert(errorOf(dir, k).contains("not run: scheduler deadlocked during q_b"), k)
    assert(errorOf(dir, "q_a").isEmpty && errorOf(dir, "q_b").isEmpty)
  }

  test("a timeout without a deadlock writes nothing and lets the run go on") {
    val dir = Files.createTempDirectory("graft_verify").toString
    assert(Verify.deadlockExit(dir, "q_b", Seq("q_c"), () => None).isEmpty)
    assert(errorOf(dir, "q_c").isEmpty)
  }

  test("the detector reports no deadlock in a healthy JVM") {
    assert(Verify.deadlockReport().isEmpty)
  }
}
