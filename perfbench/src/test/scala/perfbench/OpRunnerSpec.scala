package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpRunnerSpec extends AnyFunSuite {
  test("a throwing operation yields its error and no time") {
    val (rec, out) = OpRunner.run(7, "job", traced = false) { report =>
      OpRunner.part(report, "ingest_write")(())
      throw new IllegalStateException("boom")
    }
    assert(rec.failed)
    assert(rec.seconds.isEmpty)
    assert(rec.error.exists(e => e.contains("IllegalStateException") && e.contains("boom")))
    assert(rec.parts.isEmpty)
    assert(out.isEmpty)
  }

  test("a succeeding operation yields a time, its parts and its result") {
    val (rec, out) = OpRunner.run(1, "query", traced = true) { report =>
      OpRunner.part(report, "step")(Thread.sleep(5))
      42
    }
    assert(!rec.failed && rec.error.isEmpty)
    assert(rec.seconds.exists(_ >= 0.005))
    assert(rec.parts("step") <= rec.seconds.get)
    assert(out.contains(42))
  }

  test("a mismatch found later turns a timed record into a failure") {
    val (rec, _) = OpRunner.run(2, "query", traced = true)(_ => ())
    val bad = rec.withError("traced output differs")
    assert(bad.failed && bad.seconds.isEmpty)
  }
}
