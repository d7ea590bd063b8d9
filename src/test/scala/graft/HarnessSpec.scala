package graft

import org.scalatest.funsuite.AnyFunSuite

/** The tools' shared harness: warm-up failures are reported by name, never
  * swallowed, and the timed run hands back what the action threw. */
class HarnessSpec extends AnyFunSuite {
  private val planted = new IllegalStateException("planted")
  private lazy val h = new Harness(TestSpark.spark, "unused", Map(
    "q_three" -> ((s, _) => s.range(3).toDF()),
    "q_broken" -> ((_, _) => throw planted)))

  test("warm reports a planted failing build by name, and the builds after it still run") {
    var ranAfter = false
    val w = h.warm(Seq(
      "a.ok" -> ((_, _) => ()),
      "a.boom" -> ((_, _) => throw planted),
      "b.after" -> ((_, _) => ranAfter = true)))
    assert(w.failures == Map("a.boom" -> "planted"))
    assert(ranAfter)
    assert(w.sec.keys.toSeq == Seq("a.ok", "a.boom", "b.after"))
    assert(w.groupSec.keys.toSeq == Seq("a", "b"))
  }

  test("Artifacts fill exactly the six build groups of the bench detail") {
    val w = Harness.Warm(
      collection.mutable.LinkedHashMap.from(Harness.Artifacts.map(_._1 -> 1.0)), Map.empty)
    assert(w.groupSec.toSeq == Seq(
      "ivf" -> 3.0, "mh" -> 3.0, "clf" -> 1.0, "pq" -> 1.0, "cur" -> 1.0, "tok" -> 1.0))
  }

  test("run returns the action's value, or what the build or the action threw") {
    val ok = h.run("q_three")(_.count())
    assert(ok.result == Right(3L) && ok.sec >= ok.buildSec && ok.buildSec >= 0)
    assert(h.run("q_three")(_ => throw planted).result == Left(planted))
    assert(h.run("q_broken")(_.count()).result == Left(planted))
  }
}
