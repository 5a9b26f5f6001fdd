package perfbench

/** Checks of the harness's own accounting, run by
  * `python3 perfbench/run.py --selftest`. Exits non-zero on the first
  * failed check. */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAILED: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    // a call that throws is counted as failed and its error propagates,
    // so the caller drops the iteration's timing
    val ops = new Harness.Ops
    check(ops(41 + 1) == 42, "a call's value passes through")
    val thrown = scala.util.Try(ops(throw new RuntimeException("crash")))
    check(thrown.isFailure, "a failing call still throws")
    check(ops.attempted == 2 && ops.failed == 1, s"accounting ${ops.attempted}/${ops.failed}")

    // self time: a 100 ms span with children covering [10,40) and
    // [30,60) (overlapping) and [90,120) (clipped to the parent) has
    // 100 - 50 - 10 = 40 ms of its own
    val tr = new Tracer(null)
    val root = tr.observed("root", Span(-1, "none", -1, 0, 0), 0, 100)
    tr.observed("a", root, 10, 40); tr.observed("b", root, 30, 60); tr.observed("c", root, 90, 120)
    check(tr.selfMs(root) == 40, s"self time ${tr.selfMs(root)}")
    check(tr.selfMs(tr.named("a").head) == 30, "a leaf's self time is its duration")

    check(Trace.planHash("Project [a#12, b#13L]") == Trace.planHash("Project [a#7, b#99L]"),
      "plan hashes ignore expression ids")
    check(Trace.planHash("Project [a#1]") != Trace.planHash("Filter [a#1]"),
      "plan hashes tell plans apart")

    check(Json.render(Map("a" -> Seq[Any](1, 2.5), "b\"" -> "x\ny")) ==
      "{\"a\":[1,2.5],\"b\\\"\":\"x\\ny\"}", "json rendering")
    println("harness self-test ok")
  }
}
