package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic, without Spark. */
class HarnessSpec extends AnyFunSuite {

  test("tail percentile: the highest with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some((90.0, 90.0, 100)))
    // input order does not matter
    assert(Stats.tail(xs.reverse) == Some((90.0, 90.0, 100)))
    // 1000 samples: p99, the 990th value, 10 beyond it
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some((99.0, 990.0, 1000)))
    // 11 samples: only the smallest has ten beyond it
    val eleven = (1 to 11).map(_.toDouble)
    assert(Stats.tail(eleven).map(t => (t._2, t._3)) == Some((1.0, 11)))
    // ten or fewer: no percentile is backed by ten tail samples
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median and growth") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.growth(Seq(1.0, 1.0, 5.0, 2.0, 2.0, 2.0)) == 2.0)
    assert(Stats.growth(Seq(2.0, 3.0)) == 1.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("digest: order-independent, sensitive to content and count") {
    val rows = Seq("1\u00012", "3\u00014", "5\u00016")
    val d = Digest.of(rows)
    assert(d.startsWith("3:"))
    assert(Digest.of(rows.reverse) == d)
    assert(Digest.of(Seq(rows(1), rows(2), rows(0))) == d)
    assert(Digest.of(rows.updated(1, "3\u00015")) != d)
    assert(Digest.of(rows :+ rows.head) != d)
    // row boundaries count: the same characters split differently differ
    assert(Digest.of(Seq("ab", "c")) != Digest.of(Seq("a", "bc")))
  }

  test("span self time: duration minus the union of child intervals") {
    val parent = Span(1, "p", 0, 100, 0, "r")
    def child(s: Long, e: Long) = Span(2, "c", s, e, 1, "r")
    assert(Span.selfTime(parent, Nil) == 100)
    // overlapping children count once; a child past the end is clipped
    val kids = Seq(child(10, 30), child(20, 50), child(60, 70), child(90, 120))
    assert(Span.selfTime(parent, kids) == 100 - 40 - 10 - 10)
    // nested-equal and fully covering children leave no self time
    assert(Span.selfTime(parent, Seq(child(0, 100), child(0, 100))) == 0)
  }

  test("tracer: nesting, parents and self time") {
    val t = new Tracer("run")
    t.span("outer") {
      t.span("inner")(Thread.sleep(5))
      t.count("n", 3)
    }
    val outer = t.spans.find(_.name == "outer").get
    val inner = t.spans.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0)
    assert(t.selfTime(outer) == outer.duration - inner.duration)
    assert(t.counts == Seq((outer.id, "n", 3.0)))
    assert(t.jsonLines.size == 3)
  }

  test("failed_frac counts each failed attempt once against all attempts") {
    val t = new Tally
    assert(t.failedFrac == 1.0) // nothing attempted counts as failure
    Seq(true, true, false, true).foreach(t.record)
    assert(t.attempted == 4 && t.failed == 1)
    assert(t.failedFrac == 0.25)
  }

  test("seeded ranges are disjoint whole ranges inside the id space") {
    val firsts = (0L until 20L).map(Inputs.firstEntity(_, 600, Inputs.DenseIdSpace))
    assert(firsts.distinct.size == 20)
    assert(firsts.forall(f => f % 600 == 0 && f + 600 <= Inputs.DenseIdSpace))
    assert(Inputs.firstEntity(-1, 600, Inputs.DenseIdSpace) >= 0)
  }

  test("json encoding") {
    assert(Json.obj("a" -> 1, "b" -> "x\"y", "c" -> Seq(1.5, 2.0), "d" -> true) ==
      """{"a":1,"b":"x\"y","c":[1.5,2.0],"d":true}""")
  }
}
